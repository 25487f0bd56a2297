"""Embedding similarity search: exact brute-force + LSH-bucketed ANN.

Spark-first design for an ``embedding ARRAY<FLOAT>`` column:

- **Brute-force top-k** is the exactness baseline: broadcast the (small)
  query set against the corpus, compute cosine with array lambdas
  (JVM-side fold in double — bit-identical to DuckDB's
  ``list_cosine_similarity``), rank with a per-query window. The
  cosine is rounded to 6 digits BEFORE the rank (and any threshold):
  a 1-ulp cross-engine divergence exactly at the rank-k or threshold
  boundary would otherwise flip which row qualifies; after rounding,
  ties resolve by the neighbor-id tie-break identically everywhere.
  At scale
  the corpus side stays partition-parallel; no shuffle until the final
  per-query top-k (k rows per partition per query after the window
  pushdown).
- **Random-hyperplane LSH ANN** is the scale path: H md5-derived
  hyperplanes -> H sign bits -> bucket id; candidates = same-bucket
  vectors, searched exactly. Bucketing is a map-side projection; the
  search joins on bucket id. Approximate -> rows-only driver check +
  recall test vs brute force (tests/test_similarity.py).

Hyperplane components are md5-derived pseudo-randoms in [-1,1] — fully
deterministic, no RNG state, reproducible anywhere.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import token_hash
from ..sources import fsio


def as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold double dot product (== DuckDB's)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_safe(a: Column, b: Column) -> Column:
    """Cosine that returns -1.0 when either side has ZERO NORM —
    the EXACT convention DuckDB's ``list_cosine_similarity`` applies
    (verified: one-zero and both-zero inputs return -1.0), so oracles
    keep their plain ``ROUND(list_cosine_similarity(...))`` twin.
    Identical bits to :func:`cosine` on every nonzero-norm pair
    (``try_divide`` is a plain IEEE divide when the divisor isn't 0);
    under ANSI mode the unguarded form instead raises DIVIDE_BY_ZERO
    mid-job (ADVICE r13 — the SemDeDup assignment struct-max).

    A NULL array PROPAGATES as NULL (matching DuckDB again, which
    returns NULL for a NULL list) rather than being coalesced into a
    "valid" -1.0 — a null embedding is upstream data corruption and
    masking it as an extreme-but-legal cosine would silently file the
    row as a kept singleton while the oracle diverged (r14 review).
    Element-level nulls inside a non-null array are outside the
    determinism contract (both engines treat them as corrupt input)."""
    return F.when(
        a.isNull() | b.isNull(), F.lit(None).cast("double")
    ).otherwise(
        F.coalesce(F.try_divide(dot(a, b), norm(a) * norm(b)), F.lit(-1.0))
    )


def _top_k(
    scored: DataFrame,
    k: int,
    score: str,
    ascending: bool = False,
    part: str = "query_id",
    tie: str = "neighbor_id",
) -> DataFrame:
    """THE per-query top-k: ``rn`` = row_number over ``part`` ordered
    by the (already rounded) ``score`` — descending for a similarity,
    ascending for a distance — with the ``tie`` id ascending as the
    total tie-break, kept while ``rn <= k``. Output: ``scored``'s
    columns, then ``rn``."""
    order = F.asc(score) if ascending else F.desc(score)
    w = Window.partitionBy(part).orderBy(order, F.asc(tie))
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cos) — self-matches excluded.
    """
    from ..session import ensure_min_partitions

    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    c = ensure_min_partitions(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    scored = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = scored.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"),
    )
    return _top_k(scored, k, "cos")


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Contrastive-training negative mining: for each anchor, the k
    nearest neighbors whose ``label_col`` DIFFERS from the anchor's —
    the confusable-but-wrong examples a contrastive or reranker
    objective needs (random negatives are trivially far; these are the
    hard ones).

    Exact by construction here (the exactness baseline, like
    knn_bruteforce — same round(6)-before-rank + id tie-break
    discipline, so the oracle is exact); at scale the same label
    predicate drops into :func:`knn_ivf` / :func:`knn_persisted`'s
    candidate stream unchanged — filtering candidates AFTER cell
    pruning, never widening the scan.
    """
    from ..session import ensure_min_partitions

    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        as_double(F.col(vec_col)).alias("qv"),
    )
    c = ensure_min_partitions(corpus).select(
        F.col(id_col).alias("negative_id"),
        F.col(label_col).alias("negative_label"),
        as_double(F.col(vec_col)).alias("cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(a))
        .filter(
            # a NULL label on either side is "unknown" and can never
            # certify a hard NEGATIVE — require two known, different
            # labels (plain != is exactly that: NULL-in -> NULL -> drop)
            F.col("negative_label") != F.col("anchor_label")
        )
        .select(
            "anchor_id",
            "anchor_label",
            "negative_id",
            "negative_label",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    return _top_k(scored, k, "cos", part="anchor_id", tie="negative_id")


def hard_negatives_ivf(
    corpus: DataFrame,
    anchors: DataFrame,
    codec: IndexCodec,
    k: int = 5,
    n_probe: int = 2,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The SCALE path for negative mining: :func:`hard_negatives`'
    different-label predicate dropped into the IVF search
    (:func:`_search`) over ``codec`` — the composition the exactness
    baseline's docstring promises, implemented. Candidates are the
    corpus coded like any in-memory index (:func:`assign_cells` +
    :func:`_encode`), only each anchor's ``n_probe`` probed cells are
    scored, and the label filter runs AFTER cell pruning — it narrows
    the candidate stream, never widens the scan. Labels ride the
    encode projection, so no extra join reunites them with the
    vectors. Output schema matches :func:`hard_negatives` (the score
    column is the codec's), so recall contracts join on
    ``(anchor_id, negative_id)``."""
    from ..session import ensure_min_partitions

    cmat = codec.cmat(corpus.sparkSession)
    vecs = ensure_min_partitions(corpus).select(
        F.col(id_col),
        F.col(label_col).alias("negative_label"),
        as_double(F.col(vec_col)).alias("arr"),
    )
    codes = _encode(
        assign_cells(vecs, cmat), codec, cmat, id_col, keep=("negative_label",)
    )
    return (
        _search(
            codes,
            codec,
            anchors.withColumnRenamed(label_col, "anchor_label"),
            cmat,
            k,
            n_probe,
            id_col,
            vec_col,
            q_keep=("anchor_label",),
            c_keep=("negative_label",),
            # same NULL-label-safe predicate as the exactness baseline
            where=F.col("negative_label") != F.col("anchor_label"),
        )
        .withColumnRenamed("query_id", "anchor_id")
        .withColumnRenamed("neighbor_id", "negative_id")
    )


ADAPTIVE_MIN_PLANES = 4
ADAPTIVE_MAX_PLANES = 12
ADAPTIVE_TARGET_OCCUPANCY = 32


def adaptive_n_planes(
    n_rows: int,
    min_planes: int = ADAPTIVE_MIN_PLANES,
    max_planes: int = ADAPTIVE_MAX_PLANES,
    target_occupancy: int = ADAPTIVE_TARGET_OCCUPANCY,
) -> int:
    """Smallest plane count p (clamped to [min, max]) whose 2**p buckets
    keep expected occupancy <= ``target_occupancy``.

    Integer-threshold rule (no float log) so an SQL oracle can mirror it
    with a CASE chain and both engines agree at every row count. Bounded
    occupancy makes bucketed all-pairs work O(n * occupancy) instead of
    O(n^2 / 2**p) with fixed p — the difference between a 100 TB plan
    and a blow-up.
    """
    p = min_planes
    while p < max_planes and (1 << p) * target_occupancy < n_rows:
        p += 1
    return p


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 (python twin of
    the column expression; planes are tiny -> computed driver-side)."""
    import hashlib

    out = []
    for d in range(dim):
        h = int(hashlib.md5(f"plane|{plane}|{d}".encode()).hexdigest()[:8], 16)
        out.append((h / 0xFFFFFFFF) * 2.0 - 1.0)
    return out


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id for one vector under the given hyperplanes.
    Each sign comes from the canonical :func:`dot` fold (the expression
    the SQL oracle's ``list_dot_product`` mirrors) — not a re-derived
    inline fold that could drift."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        d = dot(as_double(vec), F.array(*[F.lit(x) for x in p]))
        bucket = bucket + F.when(d > 0, F.lit(2 ** i)).otherwise(F.lit(0))
    return bucket


def _kmeans_fit(sample, n_cells: int, seed: int, max_iter: int = 8):
    """Driver-side Lloyd iterations on an ndarray sample.

    The coarse-quantizer fit is a bounded-sample problem by
    construction (``fit_sample_rows`` caps the input), so running the
    iterations in numpy on the driver removes ~maxIter distributed
    job rounds of pure scheduling overhead that dominate the fit at
    every realistic sample size. kmeans++-style seeding is made
    deterministic with a seeded Generator; empty cells re-seed to the
    point farthest from its current centroid.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    n = len(sample)
    # kmeans++ init: first centroid uniform, rest D^2-weighted.
    centers = [sample[rng.integers(n)]]
    for _ in range(1, n_cells):
        d2 = np.min(
            [((sample - c) ** 2).sum(axis=1) for c in centers], axis=0
        )
        tot = d2.sum()
        if tot <= 0:
            centers.append(sample[rng.integers(n)])
            continue
        centers.append(sample[rng.choice(n, p=d2 / tot)])
    centers = np.array(centers)
    for _ in range(max_iter):
        d2 = ((sample[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_cells):
            mask = assign == c
            if mask.any():
                centers[c] = sample[mask].mean(axis=0)
            else:  # empty cell: grab the globally worst-served point
                centers[c] = sample[d2.min(axis=1).argmax()]
    return centers


def clustered_corpus(
    spark,
    n_clusters: int = 64,
    per_cluster: int = 64,
    dim: int = 8,
    spread: float = 0.05,
) -> DataFrame:
    """Deterministic CLUSTERED embedding corpus from a closed integer
    formula — the geometry a production ANN index actually faces (the
    testdata embeddings are near-uniform, the worst case for a cell
    quantizer, so contracts about realistic index behavior need a
    corpus with cluster structure).

    ``vec_id v`` belongs to cluster ``c = v DIV per_cluster``; each
    dimension is ``center(c, d) + spread * noise(v, d)`` where center
    and noise are integer-hash pseudo-randoms mapped into [-1, 1]:

        center(c, d) = (c*37 + d*101) * 1000003 % 1997 / 998.5 - 1.0
        noise(v, d)  = (v*7919 + d*104729) % 1009 / 504.5 - 1.0

    All-BIGINT arithmetic until one double division, identical
    left-assoc order in Spark and SQL — so an oracle can replicate the
    corpus verbatim with ``generate_series`` + ``list_transform`` (the
    independent-derivation pattern) and derive exact truth counts.
    Generation is a pure projection over ``spark.range`` — no data
    files, no Python per row, any scale."""
    n = n_clusters * per_cluster
    ids = spark.range(n).select(F.col("id").alias("vec_id"))
    cexpr = F.expr(f"vec_id DIV {per_cluster}")
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            ((cexpr * 37 + d.cast("bigint") * 101) * 1000003 % 1997)
            / F.lit(998.5)
            - F.lit(1.0)
        )
        + F.lit(spread)
        * (
            ((F.col("vec_id") * 7919 + d.cast("bigint") * 104729) % 1009)
            / F.lit(504.5)
            - F.lit(1.0)
        ),
    )
    return ids.select("vec_id", emb.alias("embedding"))


def l2_normalize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Unit-normalize an embedding column (pure projection, no Python).

    Cosine similarity is scale-invariant, but the IVF coarse quantizer
    routes by squared L2 — on raw vectors, two clusters on the same ray
    at different radii are cosine-near yet L2-far, so cell routing
    contradicts the search metric. Normalizing first makes L2 KMeans
    behave as spherical KMeans and aligns routing with cosine (measured
    on the clustered synthetic corpus: routing recall 0.52 raw -> 1.0
    normalized). Zero vectors pass through unchanged rather than
    dividing to NaN."""
    e = as_double(F.col(vec_col))
    nrm = F.sqrt(
        F.aggregate(
            F.transform(e, lambda x: x * x), F.lit(0.0), lambda a, v: a + v
        )
    )
    return df.withColumn(
        vec_col,
        F.when(nrm == 0.0, e).otherwise(F.transform(e, lambda x: x / nrm)),
    )


def ivf_fit(
    emb: DataFrame,
    n_cells: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    fit_sample_rows: int = 100_000,
) -> list[list[float]]:
    """Fit the IVF coarse quantizer and return the centroid list.

    The model is fit once — on a bounded sample, never the full
    corpus: when the corpus exceeds ``fit_sample_rows`` the fit input
    is a seeded Bernoulli sample of ~that many rows (a coarse
    quantizer only needs the density shape, and KMeans centroids from
    100k rows are statistically indistinguishable from the
    full-corpus fit). The sampled vectors are collected and the Lloyd
    iterations run in numpy on the driver (see :func:`_kmeans_fit`)
    — bounded memory (100k x dim doubles), zero distributed fit jobs.

    The returned centroids are plain Python floats, so callers can
    fit ONCE per corpus and reuse across every query that probes the
    same index (``ivf_assign`` accepts them via ``centroids=``,
    ``knn_ivf`` via ``IndexCodec(centroids)``) — exactly how a
    production IVF index works: build once, search many.

    **Fit-path dispatch** (two arms, pick by regime): this function
    is the bounded-sample arm — collect <= ``fit_sample_rows``
    vectors, iterate in numpy, zero distributed fit jobs; right
    whenever a sample captures the density shape (the normal IVF/PQ
    coarse-quantizer case). The other arm is
    :func:`kmeans.lloyd_fit <..operators.kmeans.lloyd_fit>`: Lloyd
    rounds as join + hash-agg jobs over the FULL corpus, fixed-point
    integer-exact and SQL-replayable — right when the fit must be
    auditable/value-reproducible, when cell structure is too fine
    for a 100k sample, or when no bounded collect is acceptable.
    Its ``centroids_to_floats`` output plugs into the same
    seam (see ``knn_ivf_lloyd``). This numpy fit
    CANNOT be the cross-engine contract target: kmeans++ draws from
    a numpy Generator and averages floats in partition order,
    neither replayable in SQL.
    """
    import numpy as np

    vecs = emb.select(as_double(F.col(vec_col)).alias("arr"))
    # Bound the fit input. The count is one extra columnar scan of the
    # id column; cheap insurance against collecting an unbounded corpus.
    n_rows = vecs.count()
    fit_input = vecs
    if n_rows > fit_sample_rows:
        fit_input = vecs.sample(fraction=fit_sample_rows / n_rows, seed=seed)
    sample = np.array(
        [r.arr for r in fit_input.collect()], dtype=np.float64
    )
    centers = _kmeans_fit(sample, n_cells=n_cells, seed=seed)
    return [list(map(float, c)) for c in centers]


def ivf_assign(
    emb: DataFrame,
    n_cells: int = 8,
    n_probe: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_rows: int = 100_000,
    centroids: list[list[float]] | None = None,
):
    """IVF coarse quantizer: KMeans centroids + nearest-cell assignment.

    Returns (assigned corpus DataFrame with a ``cell`` column, the
    centroid list, the one-row broadcast centroid-matrix DataFrame for
    :func:`probe_cells`). ``centroids=None`` fits via
    :func:`ivf_fit`; passing a previously fit list skips the
    count+sample+collect+fit entirely (index reuse). The assignment is
    a pure projection over a 1-row broadcast — at 100 TB the corpus is
    written out partitioned by cell, so a query touches only
    ``n_probe`` cells' files (partition pruning does the rest).

    The centroid matrix travels as ONE broadcast row
    (``array<array<double>>``), not as literal expressions: a
    cells x dim literal matrix is ~n_cells*dim Column constructions
    per use (measured ~1.2 s of pure plan-build per query at 8x64 —
    dwarfing the actual search), while the broadcast row is a single
    createDataFrame call and the distance loop is one ``transform``
    over the matrix column.
    """
    from ..session import ensure_min_partitions

    emb = ensure_min_partitions(emb)
    vecs = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("arr"))
    if centroids is None:
        centroids = ivf_fit(
            emb,
            n_cells=n_cells,
            seed=seed,
            vec_col=vec_col,
            fit_sample_rows=fit_sample_rows,
        )
    cmat = emb.sparkSession.createDataFrame(
        [(centroids,)], "cmat array<array<double>>"
    )
    return assign_cells(vecs, cmat), centroids, cmat


def assign_cells(
    vecs: DataFrame, cmat: DataFrame, arr_col: str = "arr"
) -> DataFrame:
    """THE nearest-cell assignment projection (argmin by squared L2,
    ties to the lower cell index): :func:`probe_cells` rank 0,
    renamed. Single implementation shared by :func:`ivf_assign` and
    :func:`index_append` — inline copies of this idiom are how a
    persisted index's cell assignment silently desyncs from the
    in-memory composition."""
    return probe_cells(vecs, arr_col, cmat, [0]).withColumnRenamed(
        "cell_p0", "cell"
    )


def _cell_order(arr_col: str) -> Column:
    """The per-row CELL ORDERING expression (squared-L2 distance to
    each centroid of the broadcast ``cmat`` column, array_sort'ed with
    ties toward the lower cell index) — THE routing comparator, stated
    once and consumed by :func:`probe_cells` (top-p columns) and
    :func:`rank_cells` (full exploded ranking) so the two can never
    disagree about which cell is a row's p-th nearest."""
    dists = F.transform(
        F.col("cmat"),
        lambda c: F.aggregate(
            F.zip_with(F.col(arr_col), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return F.array_sort(
        F.transform(dists, lambda d, i: F.struct(d.alias("d"), i.alias("cell")))
    )


def probe_cells(
    df: DataFrame, arr_col: str, cmat: DataFrame, probes
) -> DataFrame:
    """Append ``cell_p{p}`` columns: the p-th nearest centroid (by
    squared L2, ties broken toward the lower cell index) for each
    probe rank in ``probes``. ``cmat`` is the one-row centroid-matrix
    frame from :func:`ivf_assign`; it broadcast-joins in, the
    distances are a ``transform`` over the matrix column (same
    sequential fold per centroid as a hand-rolled per-cell
    expression), and the matrix column is dropped on the way out."""
    j = df.crossJoin(F.broadcast(cmat))
    order = _cell_order(arr_col)
    return j.select(
        *df.columns,
        *[
            F.element_at(order, p + 1).getField("cell").alias(f"cell_p{p}")
            for p in probes
        ],
    )


def explode_probes(
    df: DataFrame, arr_col: str, cmat: DataFrame, n_probe: int
) -> DataFrame:
    """``df`` exploded to one row per (input row, probed cell): its
    columns plus ``cell``, each of the row's ``n_probe`` nearest cells
    by :func:`probe_cells`' comparator."""
    return probe_cells(df, arr_col, cmat, range(n_probe)).select(
        *df.columns,
        F.explode(
            F.array(*[F.col(f"cell_p{p}") for p in range(n_probe)])
        ).alias("cell"),
    )


def rank_cells(
    df: DataFrame, arr_col: str, cmat: DataFrame, keep_cols=("query_id",)
) -> DataFrame:
    """The FULL cell ranking per row, exploded: one output row per
    (input row, cell) carrying ``pr`` (1-based probe rank) — the same
    comparator as :func:`probe_cells` via the shared
    :func:`_cell_order`. Feeds the recall-curve derivation, where
    every cell's rank matters at once and n_cells element_at columns
    would be the wrong shape."""
    j = df.crossJoin(F.broadcast(cmat))
    pos = F.posexplode(_cell_order(arr_col))
    return j.select(*keep_cols, pos.alias("pr0", "s")).select(
        *keep_cols,
        (F.col("pr0") + 1).cast("int").alias("pr"),
        F.col("s").getField("cell").alias("cell"),
    )


def ivf_recall_curve(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """recall@k as a function of ``n_probe`` — the ENTIRE curve from
    ONE truth computation + ONE routing pass, no per-probe re-search.

    Rests on the retention theorem of IVF top-k: a TRUE top-k
    neighbor that enters the candidate set always survives to the
    approximate top-k (every candidate scoring above it is itself a
    true top-k member — there are at most k-1 of those — and the
    rounded-cosine/neighbor-id comparator is shared by both
    rankings). So a truth pair is recalled at probe depth p iff the
    neighbor's cell sits within the query's p nearest cells, and
    recall(p) is a pure function of the routing: join the truth
    pairs to the corpus cell assignment and to the query's full cell
    ranking, take each pair's probe rank, and count. The equivalence
    with physically re-running the search per p is test-pinned
    (tests/test_similarity.py).

    Returns one row per probe depth 1..n_cells: (n_probe,
    hits INT — truth pairs recalled at exactly this depth's
    cumulative count). Scale shape: the truth is the usual broadcast
    top-k; the curve itself is one narrow join + an n_cells-row
    aggregate."""
    exact = knn_bruteforce(corpus, queries, k=k, id_col=id_col,
                           vec_col=vec_col).select("query_id", "neighbor_id")
    assigned, _, cmat = ivf_assign(
        corpus, centroids=centroids, id_col=id_col, vec_col=vec_col
    )
    cell_of = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col("cell").alias("ncell")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    ranked = rank_cells(q, "qv", cmat).withColumnRenamed("query_id", "rq")
    pair_rank = (
        exact.join(cell_of, "neighbor_id")
        .join(
            ranked,
            (F.col("query_id") == F.col("rq"))
            & (F.col("ncell") == F.col("cell")),
        )
        .select("pr")
    )
    n_cells = len(centroids)
    depths = corpus.sparkSession.range(1, n_cells + 1).select(
        F.col("id").cast("int").alias("n_probe")
    )
    per_depth = pair_rank.groupBy("pr").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return (
        depths.join(per_depth, depths["n_probe"] >= per_depth["pr"], "left")
        .groupBy("n_probe")
        .agg(F.coalesce(F.sum("_c"), F.lit(0)).cast("int").alias("hits"))
    )


def tune_n_probe(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    target_recall: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, int, int]:
    """Pick the SMALLEST ``n_probe`` whose recall@k meets
    ``target_recall`` — the knob a production IVF deployment actually
    tunes (scan cost is linear in probes; recall is the requirement).
    One :func:`ivf_recall_curve` pass, then an n_cells-row driver
    scan. Returns (tuned_n_probe, hits_at_tuned, n_truth); if no
    depth meets the target (unreachable: p = n_cells scans everything
    and recalls all), n_cells is returned.

    Scope (measured, test-pinned in tests/test_similarity.py): the
    derivation transfers to the IVF-PQ composition exactly when
    searches EXACT-RE-RANK a shortlist covering the candidate set —
    the production shape — because re-ranking restores the retention
    theorem's survival step; for ADC-only ranking the curve is only
    an upper bound (codec distortion caps recall FLAT in p), so an
    ADC-only deployment must tune against physical measurements, not
    this curve."""
    curve = {
        r["n_probe"]: r["hits"]
        for r in ivf_recall_curve(
            corpus, queries, centroids, k=k, id_col=id_col, vec_col=vec_col
        ).collect()
    }
    n_cells = len(centroids)
    n_truth = curve and max(curve.values()) or 0
    import math

    need = math.ceil(target_recall * n_truth)
    for p in range(1, n_cells + 1):
        if curve.get(p, 0) >= need:
            return p, curve[p], n_truth
    return n_cells, curve.get(n_cells, 0), n_truth


# --- probe tuning persisted WITH the index (the ops seam) -----------
#
# tune_n_probe answers "how deep must searches probe"; production
# reads that answer next to the index it tuned, not in a notebook. The
# tuning record lives at ``{path}/_tuning`` — INDEX level, not inside
# a generation: the tuned depth is a property of the corpus geometry
# + centroids, which compaction preserves (it copies rows unchanged),
# so the record survives repoints; a REBUILD fits new centroids, so
# :func:`_publish_generation` DELETES the record (a stale depth tuned
# for the old geometry must never default a search on the new one)
# and a deployment re-tunes after refits. The record also carries the
# k it was tuned for, and the default-depth read refuses a k mismatch.
TUNING_FILE = "_tuning"


def tune_index_n_probe(
    spark,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    target_recall: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, int, int]:
    """Tune ``n_probe`` AGAINST A PERSISTED INDEX and record the
    result as index metadata: centroids resolve from the live
    generation's meta (the same 1-row read every search does — the
    tuner can never tune against constants the index doesn't hold),
    the recall curve derives from one truth pass + one routing pass
    (:func:`tune_n_probe` / the retention theorem), and the tuned
    depth is written to ``{path}/_tuning`` where
    :func:`knn_persisted` (``n_probe=None``) defaults to it.
    Returns (tuned_n_probe, hits_at_tuned, n_truth)."""
    _, codec = open_index(spark, path)
    p, hits, n_truth = tune_n_probe(
        corpus,
        queries,
        codec.centroids,
        k=k,
        target_recall=target_recall,
        id_col=id_col,
        vec_col=vec_col,
    )
    fsio.write_text(
        f"{path}/{TUNING_FILE}",
        f"n_probe={p}\nk={k}\n"
        f"target_permille={int(round(target_recall * 1000))}\n"
        f"hits={hits}\nn_truth={n_truth}",
        spark,
    )
    return p, hits, n_truth


def index_tuned_n_probe(spark, path: str, k: int | None = None) -> int | None:
    """The tuned probe depth recorded by :func:`tune_index_n_probe`,
    or None if the index has never been tuned — or was tuned for a
    DIFFERENT ``k`` than the caller's (recall@k curves differ by k, so
    a depth tuned for k=5 must not silently default a k=20 search;
    pass ``k=None`` to skip the guard). One tiny-file read."""
    text = fsio.read_text(f"{path}/{TUNING_FILE}", spark)
    if not text:
        return None
    rec = {}
    for line in text.splitlines():
        key, _, val = line.partition("=")
        if val.strip().lstrip("-").isdigit():
            rec[key.strip()] = int(val.strip())
    if k is not None and rec.get("k") != k:
        return None
    return rec.get("n_probe")


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    codec: IndexCodec | None = None,
    k: int = 5,
    n_probe: int = 2,
    n_cells: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN over an IN-MEMORY index: exact search (in the codec's
    own scoring) restricted to each query's ``n_probe`` nearest cells.
    The index is a generation that was never published — ``codec``
    plus the frame :func:`_encode` returns over
    :func:`ivf_assign`'s assignment — searched by the same
    :func:`_search` that :func:`knn_persisted` runs over a pruned
    parquet read:

    - ``IndexCodec(centroids)`` (float): cosine over the raw vectors;
      ``codec=None`` fits those centroids here (``n_cells``, ``seed``
      — pay the fit once by passing a shared :func:`ivf_fit` result);
    - int8 (:func:`fit_int8_codec`, or a persisted index's
      :func:`open_index` codec): cosine over dequantized codes;
    - PQ raw / residual: ADC.

    Cells adapt to the data distribution, so recall at equal candidate
    budget is typically higher than LSH on clustered corpora."""
    assigned, centroids, cmat = ivf_assign(
        corpus,
        n_cells=n_cells,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        centroids=codec and codec.centroids,
    )
    codec = codec or IndexCodec(centroids)
    codes = _encode(assigned, codec, cmat, id_col)
    return _search(codes, codec, queries, cmat, k, n_probe, id_col, vec_col)


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multiprobe ANN: exact search over the query's LSH bucket plus
    every Hamming-1 neighbor bucket (flip one sign bit).

    A vector near a hyperplane lands on either side with ~equal
    probability; probing the adjacent buckets recovers most of those
    misses at (n_planes+1)/2^n_planes of brute-force cost. Bucketing
    is a pure projection over the corpus; only the (small) query set
    is expanded and broadcast.
    """
    from ..session import ensure_min_partitions

    planes = [_hyperplane(dim, p) for p in range(n_planes)]
    c = ensure_min_partitions(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket0"),
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket0"),
            *[
                F.col("bucket0").bitwiseXOR(F.lit(1 << i))
                for i in range(n_planes)
            ],
        )
    else:
        probes = F.array(F.col("bucket0"))
    q = qb.select(
        "query_id", "qv", F.explode(probes).alias("bucket")
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    return _top_k(scored, k, "cos")


# Scalar (per-dimension min/max) int8-style quantization — the storage
# path for 100 TB embedding corpora: 4x smaller than float32, cheap to
# dequantize inside a scan, and the standard first rung before PQ.
QUANT_LEVELS = 255


def _quant_code(x: Column, mn: Column, mx: Column) -> Column:
    """Code for one value under its dimension's [mn, mx]:
    floor((x-mn)*L/(mx-mn) + 0.5), 0 for a constant dimension. THE
    canonical codec expression — every Spark path and both SQL oracles
    must mirror this exact operation order for the bit-reproducibility
    contract to hold; do not re-derive it inline."""
    rng = mx - mn
    return (
        F.when(rng > 0, F.floor((x - mn) * QUANT_LEVELS / rng + 0.5))
        .otherwise(F.lit(0))
    )


def _quant_dq(code: Column, mn: Column, mx: Column) -> Column:
    """Dequantized value for a code: mn + code*(mx-mn)/L — the other
    half of the canonical codec expression (see _quant_code)."""
    return mn + code * (mx - mn) / QUANT_LEVELS


def scalar_quantize_stats(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector contract for per-dimension scalar quantization: each
    dimension's [min, max] over the corpus maps linearly onto integer
    codes 0..QUANT_LEVELS (round-half-up); reports, per vector, the
    dimension count, the exact code sum (an integer fingerprint of the
    code array), and whether every dimension's dequantization error is
    within the guaranteed half-step bound (mx-mn)/(2*QUANT_LEVELS).

    All arithmetic is in double with a fixed operation order, so the
    codes and the error booleans are bit-reproducible in the DuckDB
    oracle — the same discipline as the cosine/round(6) convention.

    Shape at 100 TB: the range pass explodes to (pos, x) rows but
    partial aggregation collapses them to d rows per map task before
    the exchange (d ~ hundreds); the code pass re-explodes, joins the
    broadcast d-row range table, and reduces back to one row per
    vector with map-side combine. The embeddings themselves shuffle
    nowhere; constant dimensions (mx == mn) code to 0 with zero error.
    """
    e = df.select(
        id_col, F.posexplode(as_double(F.col(vec_col))).alias("pos", "x")
    )
    mm = e.groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    code = _quant_code(F.col("x"), F.col("mn"), F.col("mx")).cast("long")
    dq = _quant_dq(
        F.col("code").cast("double"), F.col("mn"), F.col("mx")
    )
    half_step = (F.col("mx") - F.col("mn")) / (2 * QUANT_LEVELS)
    coded = (
        e.join(F.broadcast(mm), "pos")
        .withColumn("code", code)
        .withColumn("err_ok", F.abs(dq - F.col("x")) <= half_step + 1e-9)
    )
    return coded.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_dims"),
        F.sum("code").alias("code_sum"),
        F.min("err_ok").alias("err_ok"),
    )


def quantization_ranges(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """1-row DataFrame of per-dimension (min[], max[]) arrays in
    dimension order — the codebook for the scalar codec. The explode
    collapses to d rows per map task under partial aggregation; the
    final collect_list folds d rows into two arrays."""
    e = df.select(F.posexplode(as_double(F.col(vec_col))).alias("pos", "x"))
    mm = e.groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    return mm.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))),
            lambda s: s["mn"],
        ).alias("mn_arr"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))),
            lambda s: s["mx"],
        ).alias("mx_arr"),
    )


def fit_int8_codec(
    corpus: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> IndexCodec:
    """THE int8 codec fit: ``centroids`` plus ``corpus``'s
    per-dimension (mn[], mx[]) (:func:`quantization_ranges`, one
    aggregate collected to the driver). :func:`write_ivf_index` builds
    its index with it; an in-memory :func:`knn_ivf` over it is the
    index that build would publish."""
    r = quantization_ranges(corpus, vec_col).first()
    return IndexCodec(centroids, ranges=(list(r["mn_arr"]), list(r["mx_arr"])))


def _dequantized(vec: Column, mn_arr: Column, mx_arr: Column) -> Column:
    """Element-wise quantize -> dequantize round-trip through the
    scalar codec: the value a reader of the int8 codes would see."""

    def f(x, i):
        mn = F.element_at(mn_arr, i + 1)
        mx = F.element_at(mx_arr, i + 1)
        code = _quant_code(x.cast("double"), mn, mx).cast("double")
        return _quant_dq(code, mn, mx)

    return F.transform(vec, f)


def knn_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine search over scalar-QUANTIZED vectors: both sides
    pass through the int8 codec (quantize -> dequantize) before
    scoring — exactly what a search over stored codes computes.

    Unlike IVF/LSH this is not candidate-pruned; it demonstrates the
    compressed READ path (codes + d-row codebook reproduce the search
    result to within quantization error), and because the codec is
    bit-reproducible the whole query has an exact oracle, not just a
    recall floor. The codebook attaches as a 1-row broadcast; the
    corpus side stays partition-parallel.
    """
    from ..session import ensure_min_partitions

    # Materialize the 1-row codebook once: both the query and corpus
    # branches attach it, and without the cut each branch would re-run
    # the corpus range scan (a production deployment stores the
    # codebook next to the codes for the same reason).
    ranges = quantization_ranges(corpus, vec_col).localCheckpoint(eager=True)
    dq = lambda v: _dequantized(v, F.col("mn_arr"), F.col("mx_arr"))  # noqa: E731
    q = (
        queries.crossJoin(F.broadcast(ranges))
        .select(
            F.col(id_col).alias("query_id"),
            dq(F.col(vec_col)).alias("qv"),
        )
    )
    c = (
        ensure_min_partitions(corpus)
        .crossJoin(F.broadcast(ranges))
        .select(
            F.col(id_col).alias("neighbor_id"),
            dq(F.col(vec_col)).alias("cv"),
        )
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    return _top_k(scored, k, "cos")


def _dq_codes(codes: Column, mn_arr: Column, mx_arr: Column) -> Column:
    """Dequantize int8 codes (what :func:`_search` scores, persisted
    or in memory) — the read half of the canonical codec.
    Bit-identical to :func:`_dequantized` over the raw vector, because
    the code came from the same :func:`_quant_code` (see
    :func:`_encode` for the ``smallint`` envelope)."""
    return F.transform(
        codes,
        lambda c, i: _quant_dq(
            c.cast("double"),
            F.element_at(mn_arr, i + 1),
            F.element_at(mx_arr, i + 1),
        ),
    )


# ------------------------------------------------- product quantization
#
# PQ (Jégou, Douze, Schmid 2011 — "Product Quantization for Nearest
# Neighbor Search"): split the vector into m contiguous subspaces, fit
# a tiny k-means codebook per subspace, store each vector as m small
# codes, and search with ADC (asymmetric distance computation): the
# query stays full-precision and per-subspace distances are looked up
# from the query-vs-codeword table. At 64 dims / m=8 / 16 codewords a
# float32 vector compresses 32x (256 -> 8 bytes) while distances stay
# a sum of m lookups.
#
# Spark-first shape: the fit is the bounded-sample driver k-means the
# IVF coarse quantizer already uses (per subspace); encode and ADC are
# PURE column expressions over small codebook literals — zero Python
# per row, codegen-friendly, and replayable verbatim in DuckDB (list
# literals + list_transform), which is what makes the exact contract
# possible. All sums are explicit left-assoc chains (the fixed-order
# fold convention) so both engines produce bit-identical doubles.


def pq_fit(
    emb: DataFrame,
    m: int = 8,
    n_codewords: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    fit_sample_rows: int = 100_000,
) -> list[list[list[float]]]:
    """Fit PQ codebooks: per subspace, :func:`_kmeans_fit` on the
    bounded sample's sub-vectors (the ivf_fit pattern — one bounded
    collect, driver-side Lloyd, zero distributed fit jobs). Returns
    ``codebooks[s][c][t]`` — m lists of n_codewords sub-centroids."""
    import numpy as np

    vecs = emb.select(as_double(F.col(vec_col)).alias("arr"))
    n_rows = vecs.count()
    fit_input = vecs
    if n_rows > fit_sample_rows:
        fit_input = vecs.sample(fraction=fit_sample_rows / n_rows, seed=seed)
    sample = np.array([r.arr for r in fit_input.collect()], dtype=np.float64)
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} is not divisible by m={m} subspaces")
    d_sub = dim // m
    return [
        [
            list(map(float, c))
            for c in _kmeans_fit(
                sample[:, s * d_sub : (s + 1) * d_sub],
                n_cells=n_codewords,
                seed=seed + s,
            )
        ]
        for s in range(m)
    ]


def constructed_pq_codebooks(
    m: int = 4, n_codewords: int = 16, d_sub: int = 2
) -> list[list[list[float]]]:
    """Codebooks from a closed integer formula (never a fit) — the
    exact-contract twin of :func:`clustered_corpus`: the oracle splices
    the identical constants from the same generator, so encode + ADC
    arithmetic is certifiable value-exact while the FITTED path keeps
    its recall-floor contract.

        cw(s, c, t) = ((s*53 + c*17 + t*29) * 1000003 % 1997)
                      / 998.5 - 1.0
    """
    return [
        [
            [
                ((s * 53 + c * 17 + t * 29) * 1000003 % 1997) / 998.5 - 1.0
                for t in range(d_sub)
            ]
            for c in range(n_codewords)
        ]
        for s in range(m)
    ]


def _pq_shape(codebooks) -> tuple[int, int, int]:
    m = len(codebooks)
    n_cw = len(codebooks[0])
    d_sub = len(codebooks[0][0])
    for book in codebooks:
        if len(book) != n_cw or any(len(cw) != d_sub for cw in book):
            raise ValueError("ragged PQ codebooks")
    return m, n_cw, d_sub


def _sq_l2_chain(a_at, b_at, d_sub: int) -> Column:
    """Left-assoc squared-L2 over ``d_sub`` components: ``a_at(t)`` /
    ``b_at(t)`` supply the t-th component expressions. The explicit
    ``(x-y)*(x-y)`` chain (not pow, not aggregate) is the fixed-order
    fold both engines reproduce bit-identically."""
    total = None
    for t in range(d_sub):
        diff = a_at(t) - b_at(t)
        term = diff * diff
        total = term if total is None else total + term
    return total


def _cb_frame(like: DataFrame, codebooks) -> DataFrame:
    """The codebooks as a ONE-ROW broadcast frame
    (array<array<array<double>>>) — the cmat convention from
    :func:`ivf_assign`: a literal matrix costs ~one Column construction
    per value in PLAN BUILD (measured ~1.2 s at 512 literals on the
    centroid path), while the broadcast row is a single createDataFrame
    and the per-subspace loops become element_at into one column."""
    return like.sparkSession.createDataFrame(
        [(codebooks,)], "cb array<array<array<double>>>"
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [keep_cols...,] pq_code array<int>): per subspace the
    argmin codeword by squared L2, ties to the LOWEST codeword index
    (array_position returns the first occurrence of the min — DuckDB's
    list_position states the same rule). One projection over the
    1-row broadcast codebook attach: m x n_codewords small
    expressions per row, no shuffle, no Python."""
    m, _, d_sub = _pq_shape(codebooks)
    vec = as_double(F.col(vec_col))
    j = df.crossJoin(F.broadcast(_cb_frame(df, codebooks)))

    # function factory, NOT default-arg capture: a 2-param lambda given
    # to F.transform receives (element, INDEX) — a `lambda cw, _s=s`
    # there would silently bind _s to the codeword index column
    def code_for(s: int) -> Column:
        dists = F.transform(
            F.element_at(F.col("cb"), s + 1),
            lambda cw: _sq_l2_chain(
                lambda t: F.element_at(vec, s * d_sub + t + 1),
                lambda t: F.element_at(cw, t + 1),
                d_sub,
            ),
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    return j.select(
        id_col,
        *keep_cols,
        F.array(*[code_for(s) for s in range(m)]).alias("pq_code"),
    )


def pq_query_tables(
    q: DataFrame,
    codebooks: list[list[list[float]]],
    qv_col: str = "qv",
) -> DataFrame:
    """Append ``adc_tab`` (array<array<double>>): THE per-query ADC
    lookup tables — tab[s][c] = ||q_sub(s) - codeword(s, c)||², the
    asymmetric-distance formulation of Jégou et al. Computed ONCE per
    query row from the 1-row broadcast codebooks, so candidate scoring
    is m array lookups per candidate and the codebooks never ride on
    (or bloat the plan of) the candidate stream."""
    m, _, d_sub = _pq_shape(codebooks)
    qv = F.col(qv_col)
    j = q.crossJoin(F.broadcast(_cb_frame(q, codebooks)))
    # the OUTER 2-param transform lambda receives (element, index) —
    # here that index IS the 0-based subspace, used deliberately
    tab = F.transform(
        F.col("cb"),
        lambda cbs, s: F.transform(
            cbs,
            lambda cw: _sq_l2_chain(
                lambda t: F.element_at(qv, s * d_sub + t + 1),
                lambda t: F.element_at(cw, t + 1),
                d_sub,
            ),
        ),
    )
    return j.select(*q.columns, tab.alias("adc_tab"))


def pq_adc_distance(code: Column, adc_tab: Column, m: int) -> Column:
    """ADC squared-L2 from the per-query lookup tables:
    Σ_s adc_tab[s][code[s]] — a left-assoc chain of m lookups, the
    same per-subspace grouping (and therefore bit-identical doubles)
    as summing the squared sub-distances directly."""
    total = None
    for s in range(m):
        term = F.element_at(
            F.element_at(adc_tab, s + 1), F.element_at(code, s + 1) + 1
        )
        total = term if total is None else total + term
    return total


def knn_pq_adc(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by ADC over a PQ-coded corpus: (query_id, neighbor_id,
    adc_dist, rn). The full-scan form is the PQ counterpart of
    :func:`knn_bruteforce` (codes are m ints per row, so the scan
    moves ~no data compared to raw vectors); at production scale the
    same scoring drops onto an IVF candidate stream exactly like
    :func:`knn_ivf` over a PQ codec does. Scoring reads the broadcast
    per-query ADC tables (:func:`pq_query_tables`); round-before-rank
    with a total tie-break keeps the ordering cross-engine
    deterministic."""
    m, _, _ = _pq_shape(codebooks)
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    qt = pq_query_tables(q, codebooks).drop("qv")
    c = corpus_codes.select(
        F.col(id_col).alias("neighbor_id"), F.col("pq_code")
    )
    scored = c.crossJoin(F.broadcast(qt)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = scored.select(
        "query_id",
        "neighbor_id",
        F.round(
            pq_adc_distance(F.col("pq_code"), F.col("adc_tab"), m), 6
        ).alias("adc_dist"),
    )
    return _top_k(scored, k, "adc_dist", ascending=True)


def clustered_corpus_numpy(
    n_clusters: int = 64,
    per_cluster: int = 64,
    dim: int = 8,
    spread: float = 0.05,
):
    """:func:`clustered_corpus` replayed in numpy, row ``v`` = vec_id
    ``v`` — BIT-identical to the Spark projection (exact int64 hash
    arithmetic until one double division, then the same
    ``center + spread * noise`` float expression; IEEE doubles make
    the result engine-independent). Exists so import-time code (oracle
    builders) can reproduce fit INPUTS without a SparkSession."""
    import numpy as np

    n = n_clusters * per_cluster
    v = np.arange(n, dtype=np.int64)[:, None]
    d = np.arange(dim, dtype=np.int64)[None, :]
    c = v // per_cluster
    center = ((c * 37 + d * 101) * 1000003 % 1997) / 998.5 - 1.0
    noise = ((v * 7919 + d * 104729) % 1009) / 504.5 - 1.0
    return center + spread * noise


def pq_fit_replica(
    m: int,
    n_codewords: int,
    seed: int = 42,
    n_clusters: int = 64,
    per_cluster: int = 64,
    dim: int = 8,
    spread: float = 0.05,
) -> list[list[list[float]]]:
    """:func:`pq_fit` over the formula corpus, replayed WITHOUT Spark:
    the numpy corpus replica in vec_id order feeds the same
    :func:`_kmeans_fit` per subspace with the same per-subspace seeds.
    Given that a Spark-side ``pq_fit(corpus.orderBy(id))`` collects the
    bit-identical sample in the same order, the two fits are equal
    float-for-float — which is what lets an import-time oracle splice
    FITTED codebooks as literals (``knn_pq_fitted_exact``). Honest
    scope: the Lloyd iterations themselves are shared code, so the
    contract certifies the distributed sample collection and the
    encode/ADC arithmetic over a fitted table, not an independent
    re-derivation of k-means."""
    sample = clustered_corpus_numpy(n_clusters, per_cluster, dim, spread)
    if dim % m:
        raise ValueError(f"dim {dim} is not divisible by m={m} subspaces")
    d_sub = dim // m
    return [
        [
            list(map(float, c))
            for c in _kmeans_fit(
                sample[:, s * d_sub : (s + 1) * d_sub],
                n_cells=n_codewords,
                seed=seed + s,
            )
        ]
        for s in range(m)
    ]


def clustered_corpus_centers(
    n_clusters: int = 64, dim: int = 8
) -> list[list[float]]:
    """The EXACT cluster centers of :func:`clustered_corpus`, stated
    from its formula (noise-free): a closed-form coarse quantizer for
    value-exact IVF contracts — unlike a fitted k-means, an oracle can
    splice these constants and replay cell assignment verbatim."""
    return [
        [
            ((c * 37 + d * 101) * 1000003 % 1997) / 998.5 - 1.0
            for d in range(dim)
        ]
        for c in range(n_clusters)
    ]


def residual_vec(arr: Column, cmat_col: Column, cell: Column) -> Column:
    """``x − centroid[cell]`` component-wise — THE residual projection
    (one site, shared by residual encode and residual search, the
    assign_cells discipline: an inline copy is how the two sides'
    residuals silently desync). Residual encoding is what the faiss
    ``IVFx,PQy`` codec actually quantizes (Jégou, Douze, Schmid, "
    Product Quantization for Nearest Neighbor Search", TPAMI 2011,
    §IV.A): subtracting the cell centroid removes the coarse
    quantizer's share of the vector's energy, so the PQ codebooks
    spend their whole budget on the small within-cell ball instead of
    the corpus-wide range — higher recall at the same m×n_codewords.
    Exact IEEE subtraction per component, so residual contracts stay
    value-exact cross-engine."""
    cent = F.element_at(cmat_col, cell + 1)
    return F.zip_with(arr, cent, lambda x, c: x - c)


def pq_encode_residual(
    assigned: DataFrame,
    cmat: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    arr_col: str = "arr",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [keep_cols...,] cell, pq_code) with the codes taken over
    each vector's CELL RESIDUAL (see :func:`residual_vec`) — the
    encode half of the residual IVF-PQ codec. One projection over the
    1-row broadcast centroid attach feeding the shared
    :func:`pq_encode` argmin; the input must already carry its
    ``cell`` (from :func:`assign_cells` / :func:`ivf_assign`)."""
    j = assigned.crossJoin(F.broadcast(cmat))
    resid = j.select(
        id_col,
        *keep_cols,
        "cell",
        residual_vec(F.col(arr_col), F.col("cmat"), F.col("cell")).alias(
            "rv"
        ),
    )
    return pq_encode(
        resid, codebooks, vec_col="rv", id_col=id_col,
        keep_cols=(*keep_cols, "cell"),
    )


# Johnson-Lindenstrauss random-projection contract: project onto
# JL_PLANES deterministic md5 hyperplanes (components uniform[-1,1],
# variance 1/3 — hence the 3/p normalizer) and check that pairwise
# squared distances survive to within a constant band. The band is
# generous (the p=16 estimator's spread is ~chi-square-like) so the
# contract is stable across scale factors while still failing loudly
# if the projection machinery breaks.
JL_PLANES = 16
JL_BAND_LO = 0.1
JL_BAND_HI = 4.0
JL_MIN_FRAC = 0.95


def jl_projection_contract(
    df,
    dim: int,
    n_planes: int = JL_PLANES,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """1-row distance-preservation contract for deterministic random
    projection (the dimensionality-reduction path: dim -> n_planes).

    Pairs are consecutive ids (a dense, deterministic O(n) pair set —
    no sampling RNG, no quadratic blowup). Per pair, the ratio of the
    normalized projected squared distance to the original squared
    distance must land in [JL_BAND_LO, JL_BAND_HI]; the contract is
    that >= JL_MIN_FRAC of pairs do. Every per-pair quantity is a
    fixed-order double fold (project the DIFF vector, matching the
    oracle's expression shape term-for-term), so the in-band booleans
    are bit-reproducible and the counts hash exactly.

    Scale shape: the neighbor self-join is a narrow 1-1 equi-join on
    id+1; projections and folds are map-side; the output is one row.
    """
    planes = [_hyperplane(dim, j) for j in range(n_planes)]
    a = df.select(F.col(id_col).alias("aid"), F.col(vec_col).alias("av"))
    b = df.select((F.col(id_col) - 1).alias("aid"), F.col(vec_col).alias("bv"))
    dvec = F.zip_with(
        F.col("av"), F.col("bv"), lambda x, y: x.cast("double") - y.cast("double")
    )
    pairs = a.join(b, "aid").select(dvec.alias("dv"))
    orig2 = dot(F.col("dv"), F.col("dv"))
    proj_sq = None
    for p in planes:
        pd = dot(F.col("dv"), F.array(*[F.lit(x) for x in p]))
        term = pd * pd
        proj_sq = term if proj_sq is None else proj_sq + term
    ratio = F.lit(3.0) * proj_sq / (F.lit(float(n_planes)) * orig2)
    flagged = pairs.filter(orig2 > 0).select(
        ((ratio >= JL_BAND_LO) & (ratio <= JL_BAND_HI)).alias("in_band")
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("in_band").cast("long")).alias("n_in_band"),
        (
            F.sum(F.col("in_band").cast("long"))
            >= F.lit(JL_MIN_FRAC) * F.count(F.lit(1))
        ).alias("band_ok"),
    )


# --- the persisted index store (manifest-pointer publish) ---------
#
# Every persisted index roots its live data under a GENERATION
# directory named by a one-line pointer file ``{path}/_current``
# (create-overwrite — a single atomic PUT on object stores, where
# directory rename is a non-atomic copy). A generation is
# SELF-CONTAINED: the cell-partitioned codes plus the 1-row meta at
# ``{gen}/_meta`` (an underscore name Spark's file index ignores, so
# scans of the generation never see it) — one pointer swap therefore
# publishes codes AND codec atomically together, and a reader that
# resolves the pointer once can never mix one generation's codes with
# another's centroids/codebooks. Writers build the complete new
# generation ASIDE under a uuid-unique name, repoint, then trim
# superseded generations; readers resolve the pointer first. A
# directory without a pointer is not an index.
#
# The store has ONE function per operation — build (the two
# ``write_*_index`` entry points over one encode and one publish),
# codec read (:func:`open_index`), append (:func:`index_append`),
# pruned search (:func:`knn_persisted`), compaction and vacuum — each
# dispatching on the codec the generation's meta records.
CURRENT_POINTER = "_current"


def vectors_dir(spark, path: str) -> str:
    """The index's LIVE generation directory, resolved via the
    manifest pointer (``{path}/_current``). One bounded tiny-file
    read; a directory without a pointer is rejected, naming the
    path."""
    name = fsio.read_text(f"{path}/{CURRENT_POINTER}", spark)
    if not name or not name.strip():
        raise FileNotFoundError(
            f"{path} is not a persisted index: it has no "
            f"{CURRENT_POINTER} pointer"
        )
    return f"{path}/{name.strip()}"


@dataclass(frozen=True)
class IndexCodec:
    """What a generation's codes MEAN — the coarse quantizer's
    ``centroids`` plus at most one payload codec, as the generation's
    1-row ``_meta`` records it:

    - float (neither ``ranges`` nor ``codebooks``): the payload is the
      raw ``arr double[]``. In-memory only — it has no on-disk layout,
      and :meth:`meta_frame` raises on it.
    - int8 scalar: ``ranges`` = per-dimension (mn[], mx[]); codes are
      ``code smallint[]``; meta columns ``mn_arr``/``mx_arr``/``n_cells``.
    - PQ: ``codebooks`` (m x n_codewords x d_sub); codes are
      ``pq_code int[]`` over the raw vector, or over its cell residual
      (:func:`residual_vec`) when ``residual``; meta columns
      ``codebooks``/``residual``.

    An in-memory index (:func:`knn_ivf`) is a generation that was
    never published: a codec plus the frame :func:`_encode` returns.

    The codec is an index property, never a caller argument: search,
    append, stream ingest and compaction all read it from the live
    generation, so an appended batch can never carry codes the
    searcher would mis-score, and a pointer swap can never pair one
    codec's codes with the other's scoring."""

    centroids: list
    ranges: tuple | None = None
    codebooks: list | None = None
    residual: bool = False

    @property
    def n_cells(self) -> int:
        return len(self.centroids)

    def cmat(self, spark) -> DataFrame:
        return spark.createDataFrame(
            [(self.centroids,)], "cmat array<array<double>>"
        )

    def ranges_frame(self, spark) -> DataFrame:
        return spark.createDataFrame(
            [self.ranges], "mn_arr array<double>, mx_arr array<double>"
        )

    def meta_frame(self, spark) -> DataFrame:
        """The 1-row ``_meta`` in this codec's on-disk layout."""
        if self.codebooks is None and self.ranges is None:
            raise ValueError(
                "the float IVF codec is in-memory only: it has no _meta layout"
            )
        if self.codebooks is None:
            return spark.createDataFrame(
                [(self.centroids, *self.ranges, self.n_cells)],
                "centroids array<array<double>>, mn_arr array<double>, "
                "mx_arr array<double>, n_cells int",
            )
        return spark.createDataFrame(
            [(self.centroids, self.codebooks, self.residual)],
            "centroids array<array<double>>, "
            "codebooks array<array<array<double>>>, residual boolean",
        )


def open_index(spark, path: str) -> tuple[str, IndexCodec]:
    """(live generation dir, its codec) from ONE pointer read — THE
    codec read every store operation goes through. Resolving both
    together means a concurrent repoint cannot hand a caller one
    generation's codes with another's codec. The codec follows from
    the columns the meta carries (``codebooks`` = PQ, else int8);
    doubles round-trip parquet exactly."""
    gen = vectors_dir(spark, path)
    # the part files by name: a read of the ``_meta`` directory itself
    # logs "All paths were ignored" (Spark treats the leading
    # underscore as hidden) and a ``_meta/*`` glob logs a metadata-
    # directory warning
    meta = f"{gen}/_meta"
    parts = [
        f"{meta}/{n}"
        for n in fsio.list_names(meta, spark)
        if n.startswith("part-") and n.endswith(".parquet")
    ]
    if not parts:
        raise FileNotFoundError(f"{gen} has no _meta part file")
    row = spark.read.parquet(*parts).collect()[0]
    cents = [[float(v) for v in c] for c in row["centroids"]]
    if "codebooks" in row.__fields__:
        books = [
            [[float(v) for v in cw] for cw in book]
            for book in row["codebooks"]
        ]
        return gen, IndexCodec(
            cents, codebooks=books, residual=bool(row["residual"])
        )
    return gen, IndexCodec(
        cents, ranges=(list(row["mn_arr"]), list(row["mx_arr"]))
    )


# THE generation-name grammar: ``vectors-g<N>[p<hex-token>]``.
# Lifecycle deleters (publish trim, vacuum) match against this EXACTLY
# — a merely-'vectors'-prefixed sibling (an operator's
# ``vectors_backup``, a ``vectors.compact-<pid>`` orphan) is NOT a
# generation and must never be swept.
_GEN_NAME_RE = re.compile(r"vectors-g(\d+)(?:p[0-9a-f]{1,32})?")


def _gen_num(name: str) -> int:
    """Generation number encoded in a generation directory name
    (``vectors-g<N>[p<token>]`` -> N; the ``p`` tail is an opaque
    uniqueness token)."""
    return int(_GEN_NAME_RE.fullmatch(name).group(1))


def _trim_generations(
    spark, path: str, live_name: str, keep: int
) -> list[str]:
    """Delete generation directories STRICTLY OLDER than ``live_name``,
    RETAINING the ``keep`` newest of them — the reader-grace window.
    Shared by the publishers (``grace_keep``) and :func:`index_vacuum`:
    a reader that resolved the pointer just before a repoint is still
    scanning the superseded generation, and on a real cluster that scan
    outlives the publish — so the publisher keeps the last ``keep``
    superseded generations and the vacuum (whose schedule the
    deployment controls) is the deleter of record. Only names matching
    the exact generation grammar are candidates; same-or-newer trees
    survive unconditionally (they may be a concurrent maintainer's
    staging). Returns the deleted names."""
    live_num = _gen_num(live_name)
    older = sorted(
        (
            n
            for n in fsio.list_names(path, spark)
            if _GEN_NAME_RE.fullmatch(n)
            and n != live_name
            and _gen_num(n) < live_num
        ),
        key=lambda n: (_gen_num(n), n),
        reverse=True,
    )
    removed = []
    for name in older[max(keep, 0):]:
        fsio.delete(f"{path}/{name}", spark=spark)
        removed.append(name)
    return removed


def _next_generation(current_name: str | None) -> str:
    """The staging name one generation past ``current_name`` (None: a
    fresh index -> generation 1). The counter lives in the directory
    NAME so a new publish never collides with the live tree it
    replaces, and the ``p<random-token>`` tail means two concurrent
    maintainers can never stage into the SAME directory (the loser's
    finished copy becomes an unreferenced orphan for the vacuum, not a
    corrupted publish). The token is uuid-derived, NOT a pid —
    containerized drivers routinely share low pids across hosts, so a
    pid tail would collide on exactly the shared object-store indexes
    this protocol targets."""
    import uuid

    num = _gen_num(current_name) if current_name else 0
    return f"vectors-g{num + 1}p{uuid.uuid4().hex[:8]}"


def _publish_generation(
    spark, path: str, codes_df, meta_df, grace_keep: int = 1
) -> None:
    """Build-aside publish shared by BOTH index builders: stage codes +
    meta into the next uuid-unique generation, repoint, then TRIM
    superseded generations down to the ``grace_keep`` newest. EVERY
    build stages aside — including the very first (it lands in
    ``vectors-g1p<token>``): two concurrent builds of a fresh index
    therefore stage into different directories and the loser's copy is
    an orphan for the vacuum, never a delete of the winner's live
    tree.

    ``grace_keep`` is the reader-grace knob: a reader that resolved
    the pointer just before the repoint is still scanning the old
    generation, and on a real cluster that scan outlives this call —
    so the newest ``grace_keep`` superseded generations survive the
    publish and :func:`index_vacuum` (grace_keep=0 by default there)
    is the deleter of record, on the deployment's own schedule.
    ``grace_keep=0`` restores the immediate delete for single-process
    callers that create throwaway indexes.

    The ``_tuning`` record is deleted BEFORE the pointer swap: a
    rebuild fits NEW centroids, and deleting after would leave a crash
    window in which the new pointer pairs with a depth tuned for the
    old geometry (compaction keeps the record — it preserves the
    fit)."""
    cur = fsio.read_text(f"{path}/{CURRENT_POINTER}", spark)
    name = _next_generation(cur.strip() if cur else None)
    target = f"{path}/{name}"
    codes_df.write.mode("overwrite").partitionBy("ingest", "cell").parquet(
        target
    )
    meta_df.coalesce(1).write.mode("overwrite").parquet(f"{target}/_meta")
    if fsio.exists(f"{path}/{TUNING_FILE}", spark):
        # BEFORE the repoint: no pointer state may pair the new
        # centroids with a depth tuned for the old geometry. A crash
        # right here costs only a re-tune (knn_persisted falls back to
        # its explicit/default n_probe when no record exists).
        fsio.delete(f"{path}/{TUNING_FILE}", spark=spark)
    fsio.write_text(f"{path}/{CURRENT_POINTER}", name, spark)
    _trim_generations(spark, path, name, keep=grace_keep)


def _assert_batch_visible(spark, path: str, target: str) -> None:
    """Post-write liveness re-check for the batch-append APIs: the
    append resolved the live generation ONCE before writing, so a
    compaction that repoints (and eventually vacuums) that generation
    mid-append would otherwise silently strand the batch's rows in a
    superseded tree (r11 advisory). Re-reading the pointer AFTER the
    write surfaces the race instead of losing the batch.

    Recovery is deliberately NOT automatic, because the race has two
    distinct outcomes the caller must distinguish: (a) the compaction
    read the old generation BEFORE this write — the batch is absent
    from the new generation and a plain re-run of the append lands it
    there correctly; (b) the compaction read AFTER this write — the
    batch's rows were folded into the new generation's ``base``, and
    a blind re-run would DUPLICATE them (the keyed ``ingest=``
    overwrite cannot reclaim rows already folded out of the batch's
    partition). Verify presence in the live generation before
    retrying. Both outcomes mean a deployment violated compaction's
    stated single-maintainer/quiescent-index contract — this guard is
    defense-in-depth that turns that violation from silent data loss
    or duplication into an explicit error."""
    live = vectors_dir(spark, path)
    if live != target:
        raise RuntimeError(
            f"append raced a compaction on {path}: batch written to "
            f"{os.path.basename(target)} but the live generation is now "
            f"{os.path.basename(live)}. If the compaction folded this "
            "batch's rows (it read the tree after this write) they are "
            "already in the new generation's base — verify presence "
            "before re-running the append, or a retry will duplicate "
            "them. Compaction requires a quiescent index; this error "
            "means that contract was violated."
        )


def _encode(
    assigned: DataFrame,
    codec: IndexCodec,
    cmat: DataFrame,
    id_col: str,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """THE encode: (id, [keep...,] payload, cell) in ``codec`` from a
    frame carrying ``arr`` and its ``cell`` (from :func:`assign_cells`
    / :func:`ivf_assign`; ``cmat`` is the matching centroid row).
    Single implementation shared by the base build, every appended
    batch (:func:`index_append`) and every in-memory index
    (:func:`knn_ivf`): they MUST encode identically or the
    byte-identity contracts break only for one store (the two-site
    drift the canonical-codec convention exists to prevent). Payload
    per codec: float ``arr``, int8 ``code``, PQ ``pq_code``.

    int8 envelope: a code is :func:`_quant_code` cast to ``smallint``
    — in [0, QUANT_LEVELS] inside the fit [mn, mx], and the unclamped
    affine code outside it, exact while it fits ``smallint`` (a value
    within ~128 ranges of the fit interval). A value farther out
    raises a cast overflow under ANSI, in memory as on write; inside
    the envelope the decoded code (:func:`_dq_codes`) equals
    :func:`_dequantized` over the raw value bit for bit."""
    if codec.codebooks is not None:
        if codec.residual:
            return pq_encode_residual(
                assigned, cmat, codec.codebooks, id_col=id_col, keep_cols=keep
            )
        return pq_encode(
            assigned, codec.codebooks, vec_col="arr", id_col=id_col,
            keep_cols=(*keep, "cell"),
        )
    if codec.ranges is None:
        return assigned.select(id_col, *keep, "arr", "cell")
    ranges = codec.ranges_frame(assigned.sparkSession)
    return assigned.crossJoin(F.broadcast(ranges)).select(
        F.col(id_col),
        *keep,
        F.transform(
            F.col("arr"),
            lambda x, i: _quant_code(
                x,
                F.element_at(F.col("mn_arr"), i + 1),
                F.element_at(F.col("mx_arr"), i + 1),
            ).cast("smallint"),
        ).alias("code"),
        "cell",
    )


def _search(
    codes: DataFrame,
    codec: IndexCodec,
    queries: DataFrame,
    cmat: DataFrame,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    q_keep: tuple[str, ...] = (),
    c_keep: tuple[str, ...] = (),
    where: Column | None = None,
) -> DataFrame:
    """THE IVF search, for every codec and both stores. ``codes`` are
    a generation's coded candidates as :func:`_encode` writes them —
    a pruned parquet read (:func:`knn_persisted`) or the encode
    itself (:func:`knn_ivf`). Each query probes its ``n_probe``
    nearest cells with the full-precision vector, explodes to one row
    per probed cell and joins that cell's candidates; self pairs and
    pairs failing ``where`` drop, the score is rounded to 6 digits
    before the rank, and :func:`_top_k` keeps k per query. Only the
    payload -> score step is codec-specific:

    - float: round(cosine) over the raw vectors (``cos``);
    - int8: round(cosine) over the decoded codes (:func:`_dq_codes`),
      the query through the same codec (:func:`_dequantized`);
    - PQ raw: ADC (``adc_dist``) from per-query tables, built once per
      query BEFORE the probe explode;
    - PQ residual: ADC from per-(query, probed cell) tables over the
      query's residual against that cell's centroid.

    ``q_keep`` / ``c_keep`` ride through from ``queries`` / ``codes``.
    Output: (query_id, q_keep..., neighbor_id, c_keep..., score, rn)."""
    books = codec.codebooks
    q = queries.select(
        F.col(id_col).alias("query_id"),
        *q_keep,
        as_double(F.col(vec_col)).alias("qv"),
    )
    if books is not None and not codec.residual:
        q = pq_query_tables(q, books)
    q = explode_probes(q, "qv", cmat, n_probe)
    if books is not None:
        if codec.residual:
            rq = q.crossJoin(F.broadcast(cmat)).select(
                "query_id",
                *q_keep,
                "cell",
                residual_vec(F.col("qv"), F.col("cmat"), F.col("cell")).alias(
                    "rqv"
                ),
            )
            q = pq_query_tables(rq, books, qv_col="rqv")
        cv = F.col("pq_code")
        score = pq_adc_distance(F.col("cv"), F.col("adc_tab"), len(books))
        name, ascending = "adc_dist", True
    else:
        cv = F.col("arr")
        if codec.ranges is not None:
            ranges = F.broadcast(codec.ranges_frame(codes.sparkSession))
            q = q.crossJoin(ranges).select(
                "query_id",
                *q_keep,
                "cell",
                _dequantized(
                    F.col("qv"), F.col("mn_arr"), F.col("mx_arr")
                ).alias("qv"),
            )
            codes = codes.crossJoin(ranges)
            cv = _dq_codes(F.col("code"), F.col("mn_arr"), F.col("mx_arr"))
        score = cosine(F.col("qv"), F.col("cv"))
        name, ascending = "cos", False
    c = codes.select(
        F.col(id_col).alias("neighbor_id"), *c_keep, "cell", cv.alias("cv")
    )
    not_self = F.col("neighbor_id") != F.col("query_id")
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(not_self if where is None else not_self & where)
        .select(
            "query_id",
            *q_keep,
            "neighbor_id",
            *c_keep,
            F.round(score, 6).alias(name),
        )
    )
    return _top_k(scored, k, name, ascending=ascending)


def _build_index(
    assigned: DataFrame,
    cmat: DataFrame,
    path: str,
    codec: IndexCodec,
    id_col: str,
    grace_keep: int,
) -> None:
    """Encode the assigned corpus into ``ingest=base`` and publish it
    with the codec's meta — the one build path under both entry
    points."""
    spark = assigned.sparkSession
    codes = _encode(assigned, codec, cmat, id_col).withColumn(
        "ingest", F.lit("base")
    )
    _publish_generation(
        spark, path, codes, codec.meta_frame(spark), grace_keep=grace_keep
    )


def write_ivf_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_rows: int = 100_000,
    centroids: list[list[float]] | None = None,
    grace_keep: int = 1,
) -> None:
    """Persist the int8 IVF index — the published form of an
    in-memory :func:`knn_ivf` over :func:`fit_int8_codec`, turning the
    "cell partitioning prunes the scan to n_probe cells' files" claim
    into an on-disk fact. Fits its own centroids (unless ``centroids``
    is given) and the scalar codebook (per-dimension mn/mx) from
    ``emb``.

    - the live generation: (id, code smallint[]) parquet in the
      TWO-level ``ingest=/cell=`` layout — the base build lands in
      ``ingest=base``, :func:`index_append` gives each batch its own
      ``ingest`` partition (which is what makes a replayed streaming
      batch idempotent), and a search filtering on probed cells reads
      only those cells' files (PartitionFilters; plan-asserted in
      ``tests/test_ivf_persist.py``); the int codes are the 4x storage
      story.
    - the generation's ``_meta``: ONE row — centroid matrix + scalar
      codebook (:class:`IndexCodec`), a searcher's bounded 1-row read.

    Build once, search many: at 100 TB the build is one assignment
    scan + one partitioned write (the shuffle is paid here, not per
    query), and reruns only ever touch ``n_probe`` partitions."""
    assigned, centroids, cmat = ivf_assign(
        emb,
        n_cells=n_cells,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        fit_sample_rows=fit_sample_rows,
        centroids=centroids,
    )
    codec = fit_int8_codec(emb, centroids, vec_col)
    _build_index(assigned, cmat, path, codec, id_col, grace_keep)


def write_pq_index(
    corpus: DataFrame,
    path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grace_keep: int = 1,
    residual: bool = False,
) -> None:
    """Persist the IVF-PQ index from FITTED centroids and codebooks:
    (id, pq_code) parquet in the same ``ingest=/cell=`` layout as
    :func:`write_ivf_index` (each row m small ints — the 32x payload
    story), with ONE meta row carrying centroids + codebooks + the
    ``residual`` flag. ``residual=True`` writes the faiss codec
    proper: codes over CELL RESIDUALS (:func:`pq_encode_residual`);
    search, append and stream ingest read the flag from the meta."""
    assigned, _, cmat = ivf_assign(
        corpus, centroids=centroids, id_col=id_col, vec_col=vec_col
    )
    codec = IndexCodec(centroids, codebooks=codebooks, residual=residual)
    _build_index(assigned, cmat, path, codec, id_col, grace_keep)


def index_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ingest_key: str | None = None,
) -> None:
    """Index INGESTION without refit: assign an incoming batch to the
    index's EXISTING centroids, encode it with the index's OWN codec
    (:func:`open_index` — int8 ranges or PQ codebooks, raw or
    residual; all frozen fit-time artifacts, a refit is an offline
    rebuild), and land the rows in their cell partitions — how a
    production IVF absorbs a streaming corpus.

    ``ingest_key=None`` appends into the shared ``ingest=append``
    partition (batch semantics). A streaming caller passes a
    DETERMINISTIC per-batch key instead: the batch then lands in its
    own ``ingest=<key>`` partition via dynamic-partition OVERWRITE, so
    replaying the same batch (crash after commit, before the caller's
    bookkeeping) REPLACES its own rows rather than duplicating them —
    idempotent, the exactly-once foreachBatch sink pattern.

    int8 out-of-range values (an incoming dim exceeding the fit
    corpus's [mn, mx]) keep the unclamped affine code inside
    :func:`_encode`'s ``smallint`` envelope, so a reader decodes them
    exactly like an in-memory index does; a deployment preferring
    saturation would clamp to [0, QUANT_LEVELS] in :func:`_encode`.

    Scale shape: one projection over the batch + a write that touches
    only the batch's own ingest partition — existing partitions are
    never rewritten."""
    from ..session import scoped_conf

    target, codec = open_index(spark, path)
    cmat = codec.cmat(spark)
    vecs = new_vectors.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("arr")
    )
    coded = _encode(assign_cells(vecs, cmat), codec, cmat, id_col).withColumn(
        "ingest", F.lit(ingest_key or "append")
    )
    if ingest_key is None:
        coded.write.mode("append").partitionBy("ingest", "cell").parquet(
            target
        )
    else:
        with scoped_conf(
            spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
        ):
            # writer-level option too: it takes precedence over session
            # conf and survives callers inside other scoped confs
            coded.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("ingest", "cell").parquet(target)
    _assert_batch_visible(spark, path, target)


def knn_persisted(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int | None = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[int]]:
    """Search a persisted index with a PRUNED scan, in its own codec.

    Flow: resolve the live generation and its codec (one pointer read,
    one 1-row meta read — :func:`open_index`); probe each query's
    ``n_probe`` nearest cells (full-precision query against the tiny
    centroid matrix); collect the DISTINCT probed cells (bounded by
    n_cells — the one driver-side step, and what turns the cell set
    into scan-time literals); read the generation filtered to those
    cells — partition pruning drops every other cell's files — and
    hand the read to :func:`_search`, the search an in-memory
    :func:`knn_ivf` over the same codec runs. Rows are
    ``(query_id, neighbor_id, cos, rn)`` for int8 and
    ``(query_id, neighbor_id, adc_dist, rn)`` for PQ. Because both
    stores share the encode and the search, a persisted == in-memory
    identity certifies only the parquet round trip and the partition
    pruning.

    ``n_probe=None`` defaults to the depth recorded by
    :func:`tune_index_n_probe` (the recall-targeted ops knob, read
    from the index's own ``_tuning`` record), falling back to 2 on a
    never-tuned index.

    Returns ``(result_df, scanned_cells)`` — callers assert
    ``len(scanned_cells) < n_cells`` / plan PartitionFilters."""
    from ..session import ensure_min_partitions

    if n_probe is None:
        n_probe = index_tuned_n_probe(spark, path, k=k) or 2
    gen, codec = open_index(spark, path)
    cmat = codec.cmat(spark)
    q = queries.select(as_double(F.col(vec_col)).alias("qv"))
    cells = sorted(
        int(r["cell"])
        for r in explode_probes(q, "qv", cmat, n_probe)
        .select("cell")
        .distinct()
        .collect()
    )
    # a pruned read is a few files: widen it before the per-row
    # decode and scoring (in-memory codes are widened before assignment)
    codes = ensure_min_partitions(
        spark.read.parquet(gen).filter(F.col("cell").isin(cells))
    )
    res = _search(codes, codec, queries, cmat, k, n_probe, id_col, vec_col)
    return res, cells


def knn_pq_persisted_rerank(
    spark,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list]:
    """The PRODUCTION IVF-PQ search shape over the persisted index:
    ADC shortlist from the pruned cell scan (:func:`knn_persisted`
    at k=shortlist — codes only, the 32x-compressed payload), then an
    exact re-rank of the shortlist against the raw vectors (the
    corpus a deployment keeps in primary storage) to the final top-k.
    Re-ranking is what restores the retention theorem for PQ (see
    :func:`tune_n_probe`'s scope note): with a candidate-covering
    shortlist the result EQUALS the full-precision IVF search over
    the probed cells — the contract row holds this composition to
    knn_ivf's value-exact oracle verbatim. Scale shape: the shortlist
    is k' rows per query (never the cells' full contents in the
    re-rank join), the raw-vector join touches only shortlist rows,
    and the query side rides one broadcast. Returns (results,
    scanned cells) like the ADC-only searcher.

    CONTRACT: ``corpus`` must cover every vector id in the persisted
    index — the index's appends included (the append APIs make a
    stale corpus argument easy). The re-rank join is a LEFT join with
    a raise_error guard on the vector side, so a shortlisted neighbor
    the corpus cannot supply fails the query loudly instead of being
    silently dropped from the final top-k."""
    short, cells = knn_persisted(
        spark,
        path,
        queries,
        k=shortlist,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    # coverage guard (see CONTRACT above): a shortlist id the corpus
    # cannot supply raises instead of silently shrinking the top-k
    covered = F.when(
        F.col("cv").isNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    "knn_pq_persisted_rerank: shortlisted neighbor_id "
                ),
                F.col("neighbor_id").cast("string"),
                F.lit(
                    " is absent from the supplied corpus — the corpus "
                    "must cover every vector in the persisted index "
                    "(appended batches included)"
                ),
            )
        ),
    ).otherwise(F.col("cv"))
    scored = (
        short.select("query_id", "neighbor_id")
        .join(c, "neighbor_id", "left")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), covered), 6).alias("cos"),
        )
    )
    return _top_k(scored, k, "cos"), cells


def ivf_index_compact(
    spark,
    path: str,
    keep_ingests: tuple[str, ...] = (),
    grace_keep: int = 1,
) -> dict:
    """Fold accumulated ``ingest=`` partitions back into the base cell
    layout — the maintenance pass a STREAMED index needs (every
    micro-batch lands its own ``ingest=<id>-b<n>`` partition via
    :func:`index_append`, so at production ingest rates the index
    re-grows the small-file problem inside itself). Works unchanged for
    every codec — all share the ``ingest=/cell=`` scheme and differ
    only in payload columns, which are copied generically.

    The rewrite preserves search results EXACTLY: rows are copied
    unmodified, only the ``ingest`` partition value collapses to
    ``base`` — and the searchers filter on ``cell`` alone, so
    partition pruning is unchanged. Cells are re-clustered
    one-file-per-cell (`repartition(n_cells, "cell")` — each task
    writes one file per cell it holds), so the file count drops from
    O(ingests x cells) to O(cells).

    Publish protocol (manifest pointer — object-store safe): the
    consolidated layout — codes plus a copy of the 1-row meta at
    ``_meta``, a SELF-CONTAINED generation — is written COMPLETE to
    the next uuid-unique generation directory, then one
    create-overwrite of the ``_current`` pointer file — a single
    atomic PUT everywhere, including S3-style stores where directory
    rename is a non-atomic copy — repoints readers, and superseded
    generations are trimmed down to the ``grace_keep`` newest (the
    reader-grace window: a reader that resolved the pointer just
    before the repoint is still scanning the old generation, and that
    scan outlives the publish on a real cluster — :func:`index_vacuum`
    is the deleter of record for the kept generation, on the
    deployment's own schedule). A crash before the repoint leaves the
    old generation live and the new one an unreferenced orphan.
    Compaction remains a SINGLE-MAINTAINER operation like
    ``maintenance.compact_parquet``; the uuid-unique staging means a
    violated assumption (two concurrent maintainers) costs an orphaned
    extra copy, never a corrupted publish — both stage into different
    directories and the last pointer PUT wins. Run it on a QUIESCENT
    index (no stream mid-drain): commit markers under
    ``_ingest_commits`` are retained, so a stream restarting from its
    checkpoint still skips every committed batch — after folding, the
    marker (not the partition overwrite) is what makes a late replay
    idempotent.

    ``keep_ingests`` exempts partitions from folding (e.g. a stream
    known to still be active). Returns a stats dict:
    ``{"ingests_folded", "files_before", "files_after", "rows"}``.
    """
    vectors, codec = open_index(spark, path)
    ingests = sorted(
        name.split("=", 1)[1]
        for name in fsio.list_names(vectors, spark)
        if name.startswith("ingest=")
    )
    foldable = [i for i in ingests if i not in keep_ingests]
    files_before = fsio.count_files(vectors, spark)
    if len(foldable) <= 1:
        return {
            "ingests_folded": 0,
            "files_before": files_before,
            "files_after": files_before,
            "rows": None,
        }
    df = spark.read.parquet(vectors)
    folded = df.filter(F.col("ingest").isin(foldable)).drop("ingest")
    kept = df.filter(~F.col("ingest").isin(foldable))
    data_cols = [c for c in folded.columns if c != "cell"]
    consolidated = (
        folded.repartition(codec.n_cells, "cell")
        .select(*data_cols, F.lit("base").alias("ingest"), "cell")
    )
    if keep_ingests:
        consolidated = consolidated.unionByName(
            kept.select(*data_cols, "ingest", "cell")
        )
    next_name = _next_generation(os.path.basename(vectors))
    target = f"{path}/{next_name}"
    fsio.delete(target, spark=spark)  # clear a crashed attempt's orphan
    consolidated.write.partitionBy("ingest", "cell").parquet(target)
    # the generation is self-contained: carry the (unchanged) codec
    # along so the pointer swap publishes codes + artifacts together
    codec.meta_frame(spark).coalesce(1).write.parquet(f"{target}/_meta")
    # rows counted from the WRITTEN parquet, not from the logical
    # plan: consolidated.count() would re-execute the read+shuffle a
    # second time for the stat alone, doubling the maintenance window.
    rows = spark.read.parquet(target).count()
    # THE publish: one tiny create-overwrite PUT repoints every reader
    fsio.write_text(f"{path}/{CURRENT_POINTER}", next_name, spark)
    # reader grace: keep the newest grace_keep superseded generations
    # (a reader that resolved the old pointer mid-scan still finishes);
    # index_vacuum ages them out on the deployment's schedule
    _trim_generations(spark, path, next_name, keep=grace_keep)
    return {
        "ingests_folded": len(foldable),
        "files_before": files_before,
        "files_after": fsio.count_files(target, spark),
        "rows": rows,
    }


def index_vacuum(spark, path: str, grace_keep: int = 0) -> dict:
    """Age out generation directories the ``_current`` pointer no
    longer references — the deleter of record for the pointer
    lifecycle: the publishers (:func:`_publish_generation`,
    :func:`ivf_index_compact`) leave the newest superseded
    generation(s) in place as the reader-grace window, and a crash
    between staging and repoint, or the loser of two concurrent
    maintainers, leaves a complete-but-unreferenced ``vectors*`` tree
    — all of which would otherwise accumulate forever. Run the vacuum
    when the deployment knows in-flight reads of the prior generation
    have drained (the scan-duration SLA is the schedule).

    Deletes only children matching the EXACT generation grammar
    (``vectors-g<N>[p<hex>]`` — a merely-prefixed sibling like
    ``vectors_backup`` is never a candidate) whose generation number is STRICTLY OLDER than the live
    one, retaining the ``grace_keep`` newest of those (0 by default —
    the vacuum IS the grace deadline). Same-or-newer trees survive
    because they may be a concurrent maintainer's in-flight staging
    or just-published generation — a vacuum racing a compaction must
    never delete the tree the pointer is about to (or did just)
    reference (r11 review). Such newer orphans become vacuumable on a
    later pass, once the live generation has advanced past them. The
    pointer is re-read immediately before the sweep to shrink the
    stale-snapshot window. Everything else at the root (``_current``,
    ``_ingest_commits``, caller directories) is untouched.

    Returns ``{"live": <name>, "removed": [names...]}``.
    """
    live = os.path.basename(vectors_dir(spark, path))
    removed = _trim_generations(spark, path, live, keep=grace_keep)
    return {"live": live, "removed": sorted(removed)}
