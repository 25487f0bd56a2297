"""Dedup plans over ``documents`` with fully mirrored DuckDB oracles.

Because every hash in operators/dedup.py is md5-derived, the oracle SQL
below re-derives the complete MinHash -> LSH-band -> candidate ->
Jaccard pipeline (and SimHash) inside DuckDB and must agree hash-for-
hash — a far stronger check than "similar pairs found".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import token_hash_sql
from ..operators import dedup
from ..session import read_table

# Distinct word-bigram shingles over normalized text (twin of
# operators.dedup.distinct_token_sets)
_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_W = f"list_filter(string_split_regex({_NORM}, '\\s+'), x -> x <> '')"
_TOKS = f"""
    CASE WHEN len({_W}) >= 2
         THEN list_distinct(list_transform(
                  generate_series(1, len({_W}) - 1),
                  i -> {_W}[i] || ' ' || {_W}[i + 1]))
         ELSE list_distinct({_W}) END
"""
# Word-4-gram twin of operators.dedup.ngram_token_sets(n=4) (shorter
# docs collapse to one whole-doc shingle).
_TOKS4 = f"""
    CASE WHEN len({_W}) >= 4
         THEN list_distinct(list_transform(
                  generate_series(1, len({_W}) - 3),
                  i -> {_W}[i] || ' ' || {_W}[i + 1] || ' ' ||
                       {_W}[i + 2] || ' ' || {_W}[i + 3]))
         ELSE [array_to_string({_W}, ' ')] END
"""
NEAR_DUP_THRESHOLD = 0.6


def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(read_table(spark, sf_dir, "documents"))


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(read_table(spark, sf_dir, "documents"))


# Verified near-dup pairs shared per session: near_dup_pairs,
# near_dedup_docs, and near_dup_clusters all consume the SAME
# shingles -> signatures -> bands -> candidates -> Jaccard-verified
# pairs over the same corpus at the same threshold, so the chain runs
# once per sf_dir and is materialized to temp parquet (the
# manufactured-lines pattern from logpipe). Parquet, not a cached
# DataFrame: localCheckpoint blocks are reclaimed by
# release_checkpoints between harness queries, which would kill a
# lineage-truncated cached plan; files survive. The pair set is tiny
# (candidates only), so the write is negligible next to the chain.
_PAIRS_CACHE: dict[tuple[str, float], str] = {}


def _verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (sf_dir, NEAR_DUP_THRESHOLD)
    path = _PAIRS_CACHE.get(key)
    if path is None:
        from ..session import shared_tmp_dir

        path = shared_tmp_dir("loganalysis_neardup_")
        dedup.near_dup_pairs(
            read_table(spark, sf_dir, "documents"),
            threshold=NEAR_DUP_THRESHOLD,
        ).write.mode("overwrite").parquet(f"{path}/pairs")
        _PAIRS_CACHE[key] = path
    return spark.read.parquet(f"{path}/pairs")


def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _verified_pairs(spark, sf_dir).select("doc_a", "doc_b", "jaccard")


def near_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Greedy keep: drop every doc that near-matches a lower id — the
    # plan-level twin of dedup.near_dedup_keep over the shared pairs.
    docs = read_table(spark, sf_dir, "documents")
    drop = (
        _verified_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return docs.join(drop, "doc_id", "left_anti").select(
        "doc_id", "source", "lang"
    )


def split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage audit: verified near-duplicate pairs that STRADDLE
    the train/val/test hash split — the check a pipeline runs after
    splitting, because a random split scatters duplicate families
    across splits and leaks eval content into training (the reason
    dedup-before-split is doctrine; this row measures the damage when
    it wasn't). Composes the certified MinHash-LSH pair builder with
    the certified hash-split assignment (both reused verbatim, no new
    semantics to drift); docs hashing past the split boundary (the
    excluded-by-design NULL split) cannot leak and are not counted."""
    from ..operators import sampling
    from .pipeline_ops import SAMPLE_SEED, SPLITS

    pairs = _verified_pairs(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    sp = sampling.split_assign(
        docs, "doc_id", SPLITS, seed=SAMPLE_SEED
    ).select("doc_id", "split")
    sa = sp.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = sp.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("split_a").isNotNull()
            & F.col("split_b").isNotNull()
            & (F.col("split_a") != F.col("split_b"))
        )
        .select("doc_a", "doc_b", "jaccard", "split_a", "split_b")
    )


def leakage_free_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REPAIR op completing split_leakage_pairs' detection:
    re-assign every near-duplicate family to ONE split so no verified
    near-dup pair straddles train/val/test (cluster-aware splitting —
    the dedup-then-split doctrine applied after the fact). Rule: each
    doc takes the split of its cluster's MIN doc_id (singletons keep
    their own; a family whose canonical doc hashed past the split
    boundary inherits its NULL, i.e. the whole family is excluded
    rather than half-leaked).

    Composes three certified pieces verbatim — the transitive cluster
    assignment (near_dup_clusters), the hash-split assignment
    (sampling.split_assign), and one self-join of the split table on
    the cluster id — so the oracle wraps the cluster CTE and the
    split CASE with zero new semantics. Per-doc output records the
    original split, the repaired split, and whether the doc moved;
    by construction the repaired column is constant within every
    cluster, which is exactly the no-leak property."""
    from ..operators import sampling
    from .pipeline_ops import SAMPLE_SEED, SPLITS

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    sp = sampling.split_assign(docs, "doc_id", SPLITS, seed=SAMPLE_SEED).select(
        "doc_id", "split"
    )
    clusters = near_dup_clusters(spark, sf_dir)
    roots = sp.select(
        F.col("doc_id").alias("cluster_id"),
        F.col("split").alias("split_fixed"),
    )
    return (
        clusters.join(sp, "doc_id")
        .join(roots, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            F.col("split").alias("split_orig"),
            "split_fixed",
            (~F.col("split").eqNullSafe(F.col("split_fixed"))).alias(
                "moved"
            ),
        )
    )


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(read_table(spark, sf_dir, "documents"))


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        read_table(spark, sf_dir, "documents"), threshold=NEAR_DUP_THRESHOLD
    )


def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: connected components (driver
    union-find below the edge threshold, distributed two-phase
    large-star/small-star above) over the shared verified pair set
    (the oracle re-derives components with a recursive CTE)."""
    from ..operators.graph import near_dup_clusters as _clusters

    return _clusters(
        read_table(spark, sf_dir, "documents"),
        threshold=NEAR_DUP_THRESHOLD,
        pairs=_verified_pairs(spark, sf_dir),
    )


def near_dedup_best_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: where the greedy policy keeps
    each near-dup group's LOWEST-ID doc, this keeps each cluster's most
    lexically diverse doc (distinct-token count desc, id tie-break) —
    the policy a curation pipeline actually wants, since near-dup
    groups often mix a clean original with truncated/boilerplated
    copies.

    One window over the cluster assignment (cluster_id is
    high-cardinality — mostly singletons — so the window partitions
    well); diversity is a map-side projection joined in by id.
    """
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    from ..operators.textstats import tokens

    diversity = docs.select(
        "doc_id",
        F.size(F.array_distinct(tokens(F.col("text"))))
        .cast("int")
        .alias("n_distinct_tokens"),
    )
    assign = near_dup_clusters(spark, sf_dir).join(diversity, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_distinct_tokens"), F.asc("doc_id")
    )
    return (
        assign.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "cluster_id", "n_distinct_tokens")
    )


def dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: how much of the corpus sits in
    clusters of each size — the number a dedup run reports to decide
    how aggressive near-dedup should be. One aggregation over the
    cluster assignment (which itself reuses the shared verified-pair
    index); output is O(distinct sizes) rows."""
    clusters = near_dup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("size").alias("n_docs"),
    )


# Incremental split: doc_id % 5 == 0 (~20%) plays the "arriving
# batch"; the rest is the standing corpus. 5 maximizes genuine
# near-dup matches crossing the split on the synthetic corpus (14 at
# sf0.01 vs 1 under mod 13) so the query is discriminating.
BATCH_MOD = 5


_INDEX_CACHE: dict[str, str] = {}


def _corpus_index(spark: SparkSession, sf_dir: str):
    """The standing corpus's near-dup index (shingle sets + LSH band
    rows), materialized to parquet ONCE per (session, sf_dir) and
    shared by the batch and streaming incremental queries — exactly
    how production keeps it: built when the corpus is committed,
    appended as batches are accepted, reread by every matcher. The
    parquet materialization (not localCheckpoint) survives the
    harness's release_checkpoints() between queries."""
    path = _INDEX_CACHE.get(sf_dir)
    if path is None:
        from ..session import shared_tmp_dir

        docs = read_table(spark, sf_dir, "documents")
        corpus = docs.filter(F.col("doc_id") % BATCH_MOD != 0)
        toks, bands = dedup.build_near_dup_index(corpus)
        path = shared_tmp_dir("loganalysis_ndindex_")
        toks.write.mode("overwrite").parquet(f"{path}/toks")
        bands.write.mode("overwrite").parquet(f"{path}/bands")
        _INDEX_CACHE[sf_dir] = path
    return (
        spark.read.parquet(f"{path}/toks"),
        spark.read.parquet(f"{path}/bands"),
    )


def incremental_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arriving-batch near-dedup against the standing corpus: verified
    (new_id, corpus_id, jaccard) matches, never batch x batch or
    corpus x corpus. The corpus index comes prebuilt from
    :func:`_corpus_index`; the query measures the per-batch match
    path, which is the steady-state cost of continuous ingest."""
    docs = read_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % BATCH_MOD == 0)
    return dedup.match_against_index(
        new, _corpus_index(spark, sf_dir), threshold=NEAR_DUP_THRESHOLD
    )


SIMHASH_MAX_DIST = 3


def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-<=3 near-dup pairs via the pigeonhole chunk
    join (lossless candidates: a <=3-bit-different pair must agree on
    one of 4 signature chunks)."""
    return dedup.simhash_near_dups(
        read_table(spark, sf_dir, "documents"), max_dist=SIMHASH_MAX_DIST
    )


def _mh_expr(i: int) -> str:
    h = token_hash_sql("t", i)
    return f"CAST(list_min(list_transform(toks, t -> {h})) AS BIGINT) AS mh{i}"


def _sig_cte(
    src: str = "documents", toks: str = "toks", sig: str = "sig"
) -> str:
    """MinHash signature CTEs over ``src`` (any relation exposing
    doc_id + text — lets composition queries run the identical LSH
    pipeline on a filtered corpus). CTE names are parameterizable so
    two-relation queries (incremental dedup: batch vs corpus) can
    instantiate the chain twice in one statement.

    Both CTEs are MATERIALIZED: DuckDB inlines a plain CTE at every
    read, and these are read many times over (the signatures once per
    band, the bands twice by the candidate self-join, the shingles
    again by the Jaccard verify), each read redoing the md5 and
    shingling work."""
    mh = ",\n               ".join(_mh_expr(i) for i in range(dedup.N_HASHES))
    return f"""
        {toks} AS MATERIALIZED (SELECT doc_id, {_TOKS} AS toks FROM {src}),
        {sig} AS MATERIALIZED (SELECT doc_id, {mh} FROM {toks})
    """


def _bands_cte(sig: str = "sig", bands: str = "bands") -> str:
    parts = []
    for b in range(dedup.N_BANDS):
        cols = " || ',' || ".join(
            f"CAST(mh{b * dedup.ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(dedup.ROWS_PER_BAND)
        )
        parts.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS band_hash FROM {sig}"
        )
    return f"{bands} AS (" + " UNION ALL ".join(parts) + ")"


_PAIRS_SQL = f"""
    WITH {_sig_cte()},
    {_bands_cte()},
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(len(list_intersect(ta.toks, tb.toks)) * 1.0
                 / (len(ta.toks) + len(tb.toks)
                    - len(list_intersect(ta.toks, tb.toks))), 4) AS jaccard
    FROM cands
    JOIN toks ta ON ta.doc_id = doc_a
    JOIN toks tb ON tb.doc_id = doc_b
    WHERE ROUND(len(list_intersect(ta.toks, tb.toks)) * 1.0
                / (len(ta.toks) + len(tb.toks)
                   - len(list_intersect(ta.toks, tb.toks))), 4)
          >= {NEAR_DUP_THRESHOLD}
"""


def graph_components_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on a DIAMETER-HOSTILE graph, forced down
    the distributed two-phase (large-star/small-star, Kiveris et al.
    2014) path.

    The LSH-candidate graphs the other dedup rows feed
    ``connected_components`` are dense (duplicate families, diameter
    2-3) — they would converge under any CC scheme and never exercise
    the property that matters at 100 TB: round count independent of
    graph DIAMETER. Adversarial corpora produce exactly the hostile
    shape (near-dup CHAINS: a~b~c~... with no shortcut edges), so this
    row builds one deterministically from the TPC-H keys: 100-vertex
    paths (c_custkey -> c_custkey+1 except at multiples of 100) plus
    supplier-derived pseudo-random cross edges that splice chains into
    larger high-diameter components, plus one LITERAL self-loop edge
    (0, 0) on a vertex no other edge touches (custkeys and the cross
    formula both start at 1), so the certified row pins
    isolated-self-loop handling end-to-end: the vertex must surface
    as its own singleton component (ADVICE r14 — the earlier
    docstring claimed s_suppkey 0 produced this loop, but supplier
    keys start at 1 and no key satisfies the formula, so the path was
    only unit-test-covered). Hash-min label propagation
    needs ~100 rounds here — 5x past its max_iter guard; two-phase
    converges in ~a dozen. ``local_threshold=0`` forces the
    distributed algorithm so THIS row certifies it, not the driver
    union-find shortcut; the oracle re-derives components with a
    recursive-CTE transitive closure.
    """
    from ..operators.graph import connected_components

    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    chain = cust.filter(F.col("c_custkey") % 100 != 0).select(
        F.col("c_custkey").alias("u"),
        (F.col("c_custkey") + 1).alias("v"),
    )
    cross = supp.select(
        ((F.col("s_suppkey") * 97) % 1000 + 1).alias("u"),
        ((F.col("s_suppkey") * 389) % 1000 + 1).alias("v"),
    )
    loop = spark.createDataFrame([(0, 0)], "u bigint, v bigint")
    comp = connected_components(
        chain.union(cross).union(loop), "u", "v", local_threshold=0
    )
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.max("vertex").alias("max_vertex"),
    )


def graph_components_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental component maintenance: the standing labeling is
    built from the CHAIN edges alone (the frozen artifact an ingest
    loop would persist), then the supplier cross-edge batch is folded
    in with ``update_components`` — WITHOUT re-reading the chain
    edges. The UPDATE pass is forced down the distributed two-phase
    path (the standing build takes the default scale-adaptive route —
    its distributed form is already certified by
    graph_components_chain). Held to the full-graph row's oracle
    VERBATIM: the
    incremental fold must reproduce the from-scratch components
    exactly (same ids, same sizes), which certifies the
    star-compression argument, not just "similar clusters"."""
    from ..operators.graph import connected_components, update_components

    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    chain = cust.filter(F.col("c_custkey") % 100 != 0).select(
        F.col("c_custkey").alias("u"),
        (F.col("c_custkey") + 1).alias("v"),
    )
    cross = supp.select(
        ((F.col("s_suppkey") * 97) % 1000 + 1).alias("u"),
        ((F.col("s_suppkey") * 389) % 1000 + 1).alias("v"),
    )
    # The isolated self-loop (0, 0) rides the STANDING build, so the
    # incremental fold must also carry a singleton label through the
    # star-compression round-trip unchanged (same edge set as the
    # from-scratch row — the shared oracle holds both to one answer).
    loop = spark.createDataFrame([(0, 0)], "u bigint, v bigint")
    standing = connected_components(chain.union(loop), "u", "v")
    updated = update_components(
        standing, cross, "u", "v", local_threshold=0
    )
    return updated.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.max("vertex").alias("max_vertex"),
    )


def _simhash_sql() -> str:
    h = token_hash_sql("t", "sim")
    bits = " + ".join(
        f"CASE WHEN CAST(list_sum(list_transform(ht, h -> ((h >> {j}) & 1) * 2 - 1)) "
        f"AS BIGINT) > 0 THEN CAST({2 ** j} AS BIGINT) ELSE 0 END"
        for j in range(dedup.SIMHASH_BITS)
    )
    return f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        hashed AS (SELECT doc_id, list_transform(toks, t -> {h}) AS ht FROM toks)
        SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM hashed
    """


ORACLE = {
    "exact_dedup_groups": """
        SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
               MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        FROM documents GROUP BY 1
    """,
    "minhash_signatures": f"WITH {_sig_cte()} SELECT * FROM sig",
    "near_dup_pairs": _PAIRS_SQL,
    "near_dedup_docs": f"""
        WITH {_sig_cte()},
        {_bands_cte()},
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        ),
        dropped AS (
            SELECT DISTINCT doc_b AS doc_id
            FROM cands
            JOIN toks ta ON ta.doc_id = doc_a
            JOIN toks tb ON tb.doc_id = doc_b
            WHERE ROUND(len(list_intersect(ta.toks, tb.toks)) * 1.0
                        / (len(ta.toks) + len(tb.toks)
                           - len(list_intersect(ta.toks, tb.toks))), 4)
                  >= {NEAR_DUP_THRESHOLD}
        )
        SELECT d.doc_id, d.source, d.lang FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = d.doc_id)
    """,
    "simhash": _simhash_sql(),
    # Prefix filtering is exact (no false negatives), so the oracle
    # re-derives the same prefix candidate generation: global token
    # order = (doc frequency asc, token), prefix keeps the first
    # sz - ceil(t*sz) + 1 tokens, candidates share a prefix token and
    # pass the (lossless) length filter t*|a| <= |b| both ways.
    "ngram_jaccard_pairs": f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id, {_TOKS4} AS toks FROM documents),
        ex AS (
            SELECT doc_id, len(toks) AS sz, unnest(toks) AS tok FROM toks
        ),
        dfreq AS (SELECT tok, COUNT(*) AS dcnt FROM ex GROUP BY tok),
        ranked AS (
            SELECT e.doc_id, e.tok, e.sz,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.doc_id ORDER BY d.dcnt, e.tok
                   ) AS rn
            FROM ex e JOIN dfreq d USING (tok)
        ),
        pfx AS (
            SELECT doc_id, sz, tok FROM ranked
            WHERE rn <= sz - CAST(CEIL({NEAR_DUP_THRESHOLD} * sz) AS BIGINT) + 1
        ),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM pfx a JOIN pfx b
              ON a.tok = b.tok AND a.doc_id < b.doc_id
             AND {NEAR_DUP_THRESHOLD} * a.sz <= b.sz
             AND {NEAR_DUP_THRESHOLD} * b.sz <= a.sz
        )
        SELECT doc_a, doc_b,
               ROUND(len(list_intersect(ta.toks, tb.toks)) * 1.0
                     / (len(ta.toks) + len(tb.toks)
                        - len(list_intersect(ta.toks, tb.toks))), 4) AS jaccard
        FROM cands
        JOIN toks ta ON ta.doc_id = doc_a
        JOIN toks tb ON tb.doc_id = doc_b
        WHERE ROUND(len(list_intersect(ta.toks, tb.toks)) * 1.0
                    / (len(ta.toks) + len(tb.toks)
                       - len(list_intersect(ta.toks, tb.toks))), 4)
              >= {NEAR_DUP_THRESHOLD}
    """,
    "simhash_near_dups": f"""
        WITH s AS ({{simhash_sql}}),
        c AS (SELECT doc_id, simhash, i AS ci,
                     ((simhash >> (i * {32 // (SIMHASH_MAX_DIST + 1)}))
                      & {(1 << (32 // (SIMHASH_MAX_DIST + 1))) - 1}) AS cv
              FROM s, generate_series(0, {SIMHASH_MAX_DIST}) AS t(i))
        SELECT doc_a, doc_b, hamming FROM (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                       AS hamming
            FROM c a JOIN c b
              ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
        )
        WHERE hamming <= {SIMHASH_MAX_DIST}
    """,
    "incremental_near_dups": f"""
        WITH {_sig_cte(
            f"(SELECT * FROM documents WHERE doc_id % {BATCH_MOD} = 0)",
            toks="tn", sig="sn",
        )},
        {_sig_cte(
            f"(SELECT * FROM documents WHERE doc_id % {BATCH_MOD} <> 0)",
            toks="tc", sig="sc",
        )},
        {_bands_cte(sig="sn", bands="bn")},
        {_bands_cte(sig="sc", bands="bc")},
        cands AS (
            SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
            FROM bn n JOIN bc c
              ON n.band = c.band AND n.band_hash = c.band_hash
        )
        SELECT new_id, corpus_id,
               ROUND(len(list_intersect(a.toks, b.toks)) * 1.0
                     / (len(a.toks) + len(b.toks)
                        - len(list_intersect(a.toks, b.toks))), 4) AS jaccard
        FROM cands
        JOIN tn a ON a.doc_id = new_id
        JOIN tc b ON b.doc_id = corpus_id
        WHERE ROUND(len(list_intersect(a.toks, b.toks)) * 1.0
                    / (len(a.toks) + len(b.toks)
                       - len(list_intersect(a.toks, b.toks))), 4)
              >= {NEAR_DUP_THRESHOLD}
    """,
    # Components via transitive closure: WITH RECURSIVE reach = all
    # vertices reachable from u; component = min reachable id. Agrees
    # exactly with Spark's hash-min label propagation at fixpoint.
    # MATERIALIZED: DuckDB inlines a plain CTE, so every recursion
    # step would re-run the whole pair pipeline behind `edges`; the
    # result is the same either way.
    "near_dup_clusters": f"""
        WITH RECURSIVE pairs AS MATERIALIZED ({_PAIRS_SQL}),
        edges AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(u, v) AS (
            SELECT u, u FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        ),
        comp AS (SELECT u AS doc_id, MIN(v) AS cluster_id
                 FROM reach GROUP BY u)
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
}

# The size histogram and the best-doc selection wrap the
# cluster-assignment oracle verbatim (a WITH inside the CTE body) so
# they can never drift from it.
ORACLE["dup_cluster_sizes"] = f"""
    WITH assign AS ({ORACLE["near_dup_clusters"]}),
    szs AS (SELECT cluster_id, COUNT(*) AS size
            FROM assign GROUP BY cluster_id)
    SELECT size, COUNT(*) AS n_clusters,
           CAST(SUM(size) AS BIGINT) AS n_docs
    FROM szs GROUP BY size
"""

# Diversity twin of llm_quality's raw-whitespace token convention
# (same pairing token_budget_select hash-passes on) — imported, not
# re-stated, so the convention lives in one place.
from .llm_quality import _TOKS as _RAW_TOKS  # noqa: E402

ORACLE["near_dedup_best_docs"] = f"""
    WITH assign AS ({ORACLE["near_dup_clusters"]}),
    div AS (
        SELECT doc_id,
               CAST(len(list_distinct({_RAW_TOKS})) AS INTEGER)
                   AS n_distinct_tokens
        FROM documents
    ),
    ranked AS (
        SELECT a.doc_id, a.cluster_id, div.n_distinct_tokens,
               ROW_NUMBER() OVER (
                   PARTITION BY a.cluster_id
                   ORDER BY div.n_distinct_tokens DESC, a.doc_id ASC) AS rn
        FROM assign a JOIN div USING (doc_id)
    )
    SELECT doc_id, cluster_id, n_distinct_tokens FROM ranked WHERE rn = 1
"""

# Splice the (long) simhash CTE in once — the dict literal above keeps
# a placeholder so the pair oracle and the signature oracle cannot
# drift apart.
ORACLE["simhash_near_dups"] = ORACLE["simhash_near_dups"].replace(
    "{simhash_sql}", _simhash_sql()
)

QUERIES = {
    "exact_dedup_groups": exact_dedup_groups,
    "minhash_signatures": minhash_signatures,
    "near_dup_pairs": near_dup_pairs,
    "near_dedup_docs": near_dedup_docs,
    "near_dup_clusters": near_dup_clusters,
    "dup_cluster_sizes": dup_cluster_sizes,
    "near_dedup_best_docs": near_dedup_best_docs,
    "simhash": simhash,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "incremental_near_dups": incremental_near_dups,
    "simhash_near_dups": simhash_near_dups,
    "split_leakage_pairs": split_leakage_pairs,
    "leakage_free_splits": leakage_free_splits,
    "graph_components_chain": graph_components_chain,
    "graph_components_incremental": graph_components_incremental,
}

# Twin of graph_components_chain's deterministic edge construction;
# components re-derived with a recursive-CTE transitive closure (the
# same pattern the near_dup_clusters oracle uses), then aggregated to
# per-component (size, max vertex).
ORACLE["graph_components_chain"] = """
    WITH RECURSIVE base AS (
        SELECT c_custkey AS u, c_custkey + 1 AS v
        FROM customer WHERE c_custkey % 100 <> 0
        UNION ALL
        SELECT (s_suppkey * 97) % 1000 + 1, (s_suppkey * 389) % 1000 + 1
        FROM supplier
        UNION ALL
        SELECT 0, 0
    ),
    edges AS (SELECT u, v FROM base UNION SELECT v, u FROM base),
    reach(u, v) AS (
        SELECT u, u FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u AS vertex, MIN(v) AS component FROM reach GROUP BY u)
    SELECT component,
           COUNT(*) AS n_vertices,
           MAX(vertex) AS max_vertex
    FROM comp GROUP BY component
"""

# The incremental fold must reproduce the from-scratch components
# exactly — same oracle string, zero drift possible.
ORACLE["graph_components_incremental"] = ORACLE["graph_components_chain"]

# Eval-leakage audit: the pair CTE and the split CASE are both reused
# verbatim from their certified rows, joined and filtered only.
from .pipeline_ops import _bucket as _po_bucket  # noqa: E402
from .pipeline_ops import _split_case as _po_split_case  # noqa: E402

ORACLE["split_leakage_pairs"] = f"""
    WITH pairs AS ({_PAIRS_SQL}),
    s AS (SELECT doc_id, {_po_split_case()} AS split
          FROM (SELECT doc_id, {_po_bucket("doc_id")} AS b
                FROM documents))
    SELECT p.doc_a, p.doc_b, p.jaccard,
           a.split AS split_a, b.split AS split_b
    FROM pairs p
    JOIN s a ON a.doc_id = p.doc_a
    JOIN s b ON b.doc_id = p.doc_b
    WHERE a.split IS NOT NULL AND b.split IS NOT NULL
      AND a.split <> b.split
"""

# Repair twin: cluster CTE + split CASE wrapped verbatim; repaired
# split = the cluster-min doc's split (NULL inherits: the family is
# excluded whole rather than half-leaked).
ORACLE["leakage_free_splits"] = f"""
    WITH assign AS ({ORACLE["near_dup_clusters"]}),
    s AS (SELECT doc_id, {_po_split_case()} AS split
          FROM (SELECT doc_id, {_po_bucket("doc_id")} AS b
                FROM documents))
    SELECT a.doc_id, a.cluster_id,
           s.split AS split_orig,
           r.split AS split_fixed,
           (s.split IS DISTINCT FROM r.split) AS moved
    FROM assign a
    JOIN s ON s.doc_id = a.doc_id
    JOIN s r ON r.doc_id = a.cluster_id
"""
