"""Deduplication operators: exact, MinHash-LSH, SimHash, Jaccard.

Standard LLM-corpus dedup stack (Broder'97 MinHash resemblance,
Charikar'02 SimHash, banding LSH per Mining of Massive Datasets ch.3),
engineered Spark-first for 100 TB:

- **Exact dedup** groups on a 16-byte md5 content fingerprint, not the
  raw text — the shuffle carries digests, not documents.
- **MinHash signatures are computed map-side** with array lambdas
  (``array_min(transform(tokens, hash))``) — zero shuffle, no explode,
  no state. A 100 TB corpus streams through as a projection.
- **LSH banding** explodes only B small (doc_id, band, band_hash) rows
  per doc; the candidate self-join shuffles on band_hash (uniform md5
  values -> no skew; AQE skew-join covers pathological buckets).
- **Verification** joins token sets back only for candidate pairs
  (tiny vs the corpus) and computes exact Jaccard.

Every step is deterministic md5 arithmetic, so the DuckDB oracle
reproduces signatures, bands, candidates, and Jaccard values exactly
(see plans/llm_dedup.py for the mirrored SQL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import content_fingerprint, token_hash
from .textstats import tokens

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = 4
SIMHASH_BITS = 32


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct (normalized) content: representative id
    (min), copy count. ``n_copies > 1`` rows are the duplicate sets."""
    return (
        df.select(
            content_fingerprint(F.col(text_col)).alias("fp"), F.col(id_col)
        )
        .groupBy("fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup_keep(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative row (min id) per exact-content group.

    Single shuffle: an unbounded ``min`` window over the fingerprint
    partition (no sort needed), then a filter — cheaper than the
    groupBy + self-join formulation, and the shuffle key is a 32-hex
    digest, so it is uniform regardless of content skew.
    """
    from pyspark.sql.window import Window

    fp = content_fingerprint(F.col(text_col))
    w = Window.partitionBy("_fp")
    return (
        df.withColumn("_fp", fp)
        .withColumn("_keep", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_keep"))
        .drop("_fp", "_keep")
    )


def _grams_from_tokens(w: Column, n: int) -> Column:
    """Distinct word n-grams from an already-projected token ARRAY
    column. ``w`` MUST be a plain column reference: Catalyst does not
    eliminate common subexpressions across lambda boundaries, so
    passing the tokenization *expression* here would re-run
    split+normalize once per ``element_at`` — ~2(n)x per gram
    position, a >10x slowdown measured at sf0.1."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - n + 1),
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + j) for j in range(n)]
        ),
    )
    fallback = w if n == 2 else F.array(F.concat_ws(" ", w))
    return F.array_distinct(F.when(F.size(w) >= n, grams).otherwise(fallback))


def distinct_token_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, toks) where toks = the distinct shingle set used by every
    downstream dedup operator (MinHash, SimHash, Jaccard verify).

    Text is case/whitespace-normalized first — near-dup detection that
    treats "The quick" and "the quick" as different shingles misses
    the most common duplicate class (reformatted copies)."""
    from ..functions.hashing import normalized_text
    from ..session import ensure_min_partitions

    # Shingling + hashing is CPU-bound per row: make sure it runs wide
    # (single-row-group local files otherwise pin it to one core).
    # Two-step select so the token array is a materialized column when
    # the gram lambda indexes into it (see _grams_from_tokens).
    return (
        ensure_min_partitions(df)
        .select(
            F.col(id_col),
            tokens(normalized_text(F.col(text_col))).alias("w"),
        )
        .select(id_col, _grams_from_tokens(F.col("w"), 2).alias("toks"))
    )


def _minhash_col(i: int) -> Column:
    return F.array_min(
        F.transform(F.col("toks"), lambda t: token_hash(t, i))
    ).alias(f"mh{i}")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """doc_id + mh0..mh{n-1}, computed per-row (no shuffle).

    mh_i = min over distinct tokens of the salt-i md5 hash — the
    classic MinHash estimator of Jaccard resemblance.
    """
    t = distinct_token_sets(df, text_col, id_col)
    return t.select(id_col, *[_minhash_col(i) for i in range(n_hashes)])


def lsh_bands(
    sig: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Signature -> (doc_id, band, band_hash) long form.

    band_hash = md5 of the comma-joined band rows; docs agreeing on all
    rows of any band collide."""
    bands = []
    for b in range(n_bands):
        cols = [
            F.col(f"mh{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *cols)).alias("band_hash"),
            )
        )
    return sig.select(
        id_col, F.explode(F.array(*bands)).alias("bb")
    ).select(id_col, "bb.band", "bb.band_hash")


def candidate_pairs(bands: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing any LSH bucket."""
    a = bands.select(
        F.col(id_col).alias("doc_a"), "band", "band_hash"
    )
    b = bands.select(
        F.col(id_col).alias("doc_b"), "band", "band_hash"
    )
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    return F.round(
        inter.cast("double") / (F.size(a) + F.size(b) - inter), 4
    )


def near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures (map-side) ->
    banding -> candidate pairs -> exact Jaccard verify >= threshold."""
    # Materialize the shingle sets once: they feed three plan branches
    # (signatures + both sides of the verify join), and the CPU-bound
    # normalize+shingle pass must not run three times. localCheckpoint
    # also truncates lineage so the verify join replans from compact
    # token rows, not from the raw corpus scan.
    toks = distinct_token_sets(df, text_col, id_col).localCheckpoint(eager=True)
    sig = toks.select(id_col, *[_minhash_col(i) for i in range(N_HASHES)])
    # Materialize the band rows: candidate_pairs self-joins them, and
    # without a cut both sides re-hash the 16 minhash folds.
    bands = lsh_bands(sig, id_col).localCheckpoint(eager=True)
    cands = candidate_pairs(bands, id_col)
    ta = toks.select(F.col(id_col).alias("doc_a"), F.col("toks").alias("toks_a"))
    tb = toks.select(F.col(id_col).alias("doc_b"), F.col("toks").alias("toks_b"))
    verified = (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            jaccard(F.col("toks_a"), F.col("toks_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("doc_a", "doc_b", "jaccard")


def ngram_token_sets(
    df: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, toks) with distinct word n-gram shingles (fallback for
    docs shorter than n words: the whole doc as one shingle).

    Wider shingles trade recall granularity for selectivity: n-gram
    document frequency collapses toward 1 as n grows, which is what
    keeps prefix-filter candidate generation linear — on a
    small-vocabulary corpus, bigram DF is in the hundreds and any
    token-equi-join candidate generator (prefix filter AND LSH
    banding) degenerates quadratically.

    DuckDB twin: plans/llm_dedup.py `_TOKS4`. Cf.
    :func:`distinct_token_sets`, the fixed word-bigram variant the
    MinHash stack uses.
    """
    from ..functions.hashing import normalized_text
    from ..session import ensure_min_partitions

    return (
        ensure_min_partitions(df)
        .select(
            F.col(id_col),
            tokens(normalized_text(F.col(text_col))).alias("w"),
        )
        .select(id_col, _grams_from_tokens(F.col("w"), n).alias("toks"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    n: int = 4,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard join via prefix filtering.

    Complements :func:`near_dup_pairs`: MinHash-LSH is probabilistic
    (a true pair can miss every band), while prefix filtering (Bayardo
    et al., "Scaling Up All Pairs Similarity Search", WWW'07) has **no
    false negatives** — J(a,b) >= t implies overlap >= ceil(t*|a|), so
    any qualifying pair must share a token inside each side's
    (|d| - ceil(t*|d|) + 1)-token prefix when both sets are ordered by
    one global token order. Candidates = prefix-token equi-join;
    verification = exact Jaccard on candidates only.

    The global order is ascending document frequency (tie: token
    string), so the join keys are by construction the *rarest* tokens
    in the corpus — fan-out per key stays small and the candidate
    shuffle cannot skew onto stopword-like shingles. Stages at scale:
    one explode + count agg (map-side partial) for frequencies, one
    window sort per doc (bounded by the doc's shingle count), one
    equi-join on rare tokens, one verify join. No cartesian anywhere.

    ``n`` is the shingle width (default 4 words): wide enough that
    shingle document frequency stays near 1 even on low-entropy
    corpora, which is what bounds the candidate join (see
    :func:`ngram_token_sets`).
    """
    from pyspark.sql.window import Window

    toks = ngram_token_sets(df, n, text_col, id_col).localCheckpoint(eager=True)
    ex = toks.select(
        F.col(id_col), F.size("toks").alias("sz"), F.explode("toks").alias("tok")
    )
    dfreq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("dcnt"))
    # prefix length = sz - ceil(t*sz) + 1 (identical double math in the
    # DuckDB oracle, so the candidate sets agree bit-for-bit)
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    w = Window.partitionBy(id_col).orderBy("dcnt", "tok")
    # Materialize: both sides of the candidate self-join read this —
    # without it the explode+dfreq+window pipeline runs twice.
    prefix = (
        ex.join(dfreq, "tok")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select(id_col, "sz", "tok")
        .localCheckpoint(eager=True)
    )
    # Length filter (also lossless): J(a,b) >= t implies overlap >=
    # t*max(|a|,|b|) and overlap <= min(|a|,|b|), so t*|a| <= |b|.
    cands = (
        prefix.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"), "tok")
        .join(
            prefix.select(
                F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"), "tok"
            ),
            "tok",
        )
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.lit(threshold) * F.col("sz_a") <= F.col("sz_b"))
            & (F.lit(threshold) * F.col("sz_b") <= F.col("sz_a"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = toks.select(F.col(id_col).alias("doc_a"), F.col("toks").alias("toks_a"))
    tb = toks.select(F.col(id_col).alias("doc_b"), F.col("toks").alias("toks_b"))
    return (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            jaccard(F.col("toks_a"), F.col("toks_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def near_dedup_keep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
) -> DataFrame:
    """Greedy near-dedup: drop every doc that near-matches a lower id
    (deterministic, one-pass; full clustering would need connected
    components — see operators/graph roadmap)."""
    drop = near_dup_pairs(df, text_col, id_col, threshold).select(
        F.col("doc_b").alias(id_col)
    ).distinct()
    return df.join(drop, id_col, "left_anti")


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    n_planes: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-pruned then verified.

    ``n_planes=None`` (default) sizes the bucket count to the corpus:
    the smallest p in [4, 12] keeping expected bucket occupancy <= 32
    (:func:`.similarity.adaptive_n_planes`). With a fixed p, candidate
    pairs grow ~(p+1) * n^2 / 2**(p+1) — quadratic; with adaptive p
    they stay ~(p+1) * 16 * n — linear, which is what survives 100x
    corpus growth. The count() that sizes p is one column-pruned scan.

    Candidate generation: each vector gets a random-hyperplane sign
    bucket (map-side projection, :mod:`.similarity`); candidates are
    pairs whose buckets differ in <= 1 bit — found by exploding one
    side to its bucket + all Hamming-1 flips and equi-joining on the
    other side's base bucket, so the join shuffles (n_planes+1) small
    rows per vector instead of crossing the corpus with itself.
    Verification computes the exact cosine on candidates only and
    keeps pairs >= ``threshold``.

    Deterministic end-to-end (md5-derived hyperplanes), so the DuckDB
    oracle reproduces the same candidate set with
    ``bit_count(xor(bucket_a, bucket_b)) <= 1`` and the same cosines
    (plans/llm_similarity.py).
    """
    from ..session import ensure_min_partitions
    from .similarity import (
        _hyperplane,
        adaptive_n_planes,
        as_double,
        cosine,
        lsh_bucket,
    )

    if n_planes is None:
        n_planes = adaptive_n_planes(emb.select(id_col).count())
    planes = [_hyperplane(dim, p) for p in range(n_planes)]
    emb = ensure_min_partitions(emb)
    v = emb.select(
        F.col(id_col),
        as_double(F.col(vec_col)).alias("e"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
    )
    a = v.select(
        F.col(id_col).alias("vec_a"),
        F.col("e").alias("ea"),
        F.explode(probes).alias("bucket"),
    )
    b = v.select(
        F.col(id_col).alias("vec_b"), F.col("e").alias("eb"), F.col("bucket")
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            # round BEFORE the threshold: a 1-ulp cross-engine cosine
            # divergence exactly at the boundary must not flip a pair
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        # No distinct needed: a pair collides on exactly one probe
        # (base==base when Hamming-0, the single flipped bit when
        # Hamming-1), so the join emits each candidate once.
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Per-doc SimHash (Charikar) over distinct tokens, map-side only.

    bit_j set iff sum over tokens of (2*((h>>j)&1)-1) > 0; returned as
    one BIGINT. Hamming-near signatures => near-duplicate texts.

    Single pass over the token-hash array: the per-bit weights are
    accumulated as one length-``n_bits`` array (zip_with fold) instead
    of ``n_bits`` separate folds — 4x faster, same values.
    """
    t = distinct_token_sets(df, text_col, id_col)
    ht = F.transform(F.col("toks"), lambda tok: token_hash(tok, "sim"))
    t = t.select(id_col, ht.alias("ht"))

    def contrib(h: Column) -> Column:
        """Per-token ±1 contribution for every bit position."""
        return F.array(
            *[
                (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
                for j in range(n_bits)
            ]
        )

    counts = F.aggregate(
        F.col("ht"),
        F.array_repeat(F.lit(0).cast("long"), n_bits),
        lambda acc, h: F.zip_with(acc, contrib(h), lambda a, b: a + b),
    )
    powers = F.array(*[F.lit(2 ** j).cast("long") for j in range(n_bits)])
    sim = F.aggregate(
        F.zip_with(
            counts,
            powers,
            lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    return t.select(id_col, sim.alias("simhash"))


def near_dup_against_corpus(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
) -> DataFrame:
    """Incremental near-dedup: match an ARRIVING batch against an
    EXISTING corpus — the continuous-ingest shape, where rescanning
    (or all-pairs-ing) the accumulated corpus per batch is the thing
    a 100 TB pipeline cannot afford.

    Same MinHash-LSH chain as :func:`near_dup_pairs`, but the
    candidate join is new-bands x corpus-bands (never new x new,
    never corpus x corpus): per batch, the corpus side is a
    PRECOMPUTED band index (in production: materialized once,
    appended as batches commit — each accepted batch's bands become
    index rows), and the small new-batch band set broadcasts against
    it, so per-batch cost is O(|batch| + matched candidates),
    independent of corpus size.

    Output: (new_id, corpus_id, jaccard) for every verified match
    >= ``threshold``; new docs absent from the output are novel.
    """
    index = build_near_dup_index(corpus, text_col, id_col)
    return match_against_index(
        new_docs, index, text_col=text_col, id_col=id_col, threshold=threshold
    )


def build_near_dup_index(
    corpus: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """(shingle sets, LSH band rows) for the standing corpus — built
    ONCE, matched many times (each arriving batch reuses it; in
    production both live as appendable tables, each accepted batch's
    rows appended as it commits). Both sides are lineage-cut so
    repeated matches replan from the compact materialized rows."""
    toks = distinct_token_sets(corpus, text_col, id_col).localCheckpoint(
        eager=True
    )
    sig = toks.select(id_col, *[_minhash_col(i) for i in range(N_HASHES)])
    bands = lsh_bands(sig, id_col).localCheckpoint(eager=True)
    return toks, bands


def match_against_index(
    new_docs: DataFrame,
    index: tuple[DataFrame, DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
) -> DataFrame:
    """Match one arriving batch against a prebuilt corpus index: the
    (small) batch band set broadcasts against the corpus bands, then
    exact Jaccard verifies candidates only."""
    toks_corp, bands_corp = index
    toks_new = distinct_token_sets(new_docs, text_col, id_col).localCheckpoint(
        eager=True
    )
    sig_new = toks_new.select(id_col, *[_minhash_col(i) for i in range(N_HASHES)])
    bands_new = lsh_bands(sig_new, id_col)
    cands = (
        bands_corp.select(
            F.col(id_col).alias("corpus_id"), "band", "band_hash"
        )
        .join(
            F.broadcast(
                bands_new.select(
                    F.col(id_col).alias("new_id"), "band", "band_hash"
                )
            ),
            ["band", "band_hash"],
        )
        .select("new_id", "corpus_id")
        .distinct()
    )
    tn = toks_new.select(
        F.col(id_col).alias("new_id"), F.col("toks").alias("toks_n")
    )
    tc = toks_corp.select(
        F.col(id_col).alias("corpus_id"), F.col("toks").alias("toks_c")
    )
    return (
        cands.join(tn, "new_id")
        .join(tc, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            jaccard(F.col("toks_n"), F.col("toks_c")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_near_dups(
    df: DataFrame,
    max_dist: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash near-duplicate pairs within Hamming distance
    ``max_dist``, via the pigeonhole chunk join (the web-scale simhash
    dedup technique: split the signature into ``max_dist + 1`` chunks
    — any pair within ``max_dist`` MUST agree exactly on at least one
    chunk, so chunk equality is a lossless candidate filter).

    Complements the MinHash stack: SimHash distance tracks cosine/
    frequency similarity (one changed token flips few bits) where
    MinHash tracks set resemblance. Plan shape at 100 TB: signatures
    are a map-side projection; candidates come from ``max_dist + 1``
    equi-joins on (chunk index, chunk value) — uniform md5-derived
    bits, no skew — and verification is one ``bit_count(xor)`` per
    candidate. Never all-pairs.
    """
    n_chunks = max_dist + 1
    chunk_bits = n_bits // n_chunks
    sig = simhash(df, text_col, id_col, n_bits).localCheckpoint(eager=True)
    mask = (1 << chunk_bits) - 1
    chunks = sig.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright(F.col("simhash"), i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("cv"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.ci", "c.cv")
    a = chunks.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sim_a"), "ci", "cv"
    )
    b = chunks.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sim_b"), "ci", "cv"
    )
    hamming = F.bit_count(
        F.col("sim_a").bitwiseXOR(F.col("sim_b"))
    ).cast("int")
    return (
        a.join(b, ["ci", "cv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_dist)
    )


def fuzzy_key_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Edit-distance fuzzy-key join (entity-resolution dedup tier): all
    id pairs whose keys are within Levenshtein distance ``max_dist``
    (currently 1 — the typo tier between exact dedup and MinHash),
    found WITHOUT the all-pairs cross.

    Blocking is the 1-deletion neighborhood (Mor-Fraenkel): each key
    blocks on itself plus every single-character deletion. For
    lev(a,b) <= 1 this is COMPLETE — equal keys share the key itself,
    an insertion/deletion pair shares the shorter string, and a
    substitution pair shares the common deletion at the edited
    position — so unlike similarity-style LSH there are NO false
    negatives and the result hash-matches the exact all-pairs oracle.
    Shared variants only imply lev <= 2, so candidates are verified
    with the built-in ``levenshtein`` (JVM-side, on candidates only).

    Scale shape: keys explode to (len+1) narrow (variant, id) rows;
    the self-join runs on the high-cardinality variant string with
    map-side distinct pressure, candidates are deduplicated before the
    verify, and output is O(true pairs). A 100 TB key set never meets
    the quadratic cross — the same candidate-generation discipline as
    the MinHash/SimHash/IVF tiers.
    """
    if max_dist not in (1, 2):
        # The d-deletion neighborhood is recall-complete for lev <= d
        # (an optimal alignment yields a common string reachable by
        # <= d deletions from EACH side: delete a's deleted/substituted
        # chars and b's inserted/substituted chars), but variant count
        # grows ~len^d — implemented for d in {1, 2}; refuse a larger
        # bound rather than silently miss pairs.
        raise ValueError(
            "fuzzy_key_pairs blocking is implemented for max_dist in "
            "{1, 2} (the d-deletion neighborhood; variants ~len^d)"
        )
    s = F.col(key_col)
    deletions = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(
            F.substring(s, 1, i - 1),
            s.substr(i + 1, F.length(s)),
        ),
    )
    variants = F.array_union(F.array(s), deletions)
    if max_dist == 2:
        # 2-deletion tier: drop positions i < j in one concat — the
        # ~len^2/2 extra variants that make the blocking complete at
        # lev <= 2. array_union also dedupes collapsing variants
        # (repeated chars), so the explode stays <= 1 + len + C(len,2)
        # narrow rows per key.
        idx_pairs = F.filter(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length(s)),
                    lambda i: F.transform(
                        F.sequence(F.lit(1), F.length(s)),
                        lambda j: F.struct(i.alias("i"), j.alias("j")),
                    ),
                )
            ),
            lambda p: p["i"] < p["j"],
        )
        deletions2 = F.transform(
            idx_pairs,
            lambda p: F.concat(
                F.substring(s, 1, p["i"] - 1),
                s.substr(p["i"] + 1, p["j"] - p["i"] - 1),
                s.substr(p["j"] + 1, F.length(s)),
            ),
        )
        variants = F.array_union(variants, deletions2)
    # Narrow candidate stream: a true pair shares MANY variants (two
    # near-equal keys overlap on ~O(len^d) deletions), so the block
    # self-join multiplies each pair by its shared-variant count
    # before the distinct. Joining on the 8-byte xxhash64 of the
    # variant with ids ONLY (keys rejoined after the distinct) keeps
    # that multiplied stream at 16 bytes/row instead of two full key
    # strings — measured 2x on the lev-2 supplier demo (3.9 -> 2.0 s
    # at sf0.1, byte-identical output). Hash collisions can only ADD
    # candidates, which the exact levenshtein verify below removes —
    # the zero-false-negative property is untouched.
    blocks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.transform(variants, lambda v: F.xxhash64(v))
        ).alias("_block"),
    )
    a = blocks.select(F.col("_id").alias("id_a"), "_block")
    b = blocks.select(F.col("_id").alias("id_b"), "_block")
    cand = (
        a.join(b, "_block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    keys_a = df.select(F.col(id_col).alias("id_a"), s.alias("key_a"))
    keys_b = df.select(F.col(id_col).alias("id_b"), s.alias("key_b"))
    # plain equi-joins: the planner broadcasts the key table when it
    # fits and shuffles when it doesn't — no forced hint, since at
    # corpus scale the key relation is not broadcastable
    cand = cand.join(keys_a, "id_a").join(keys_b, "id_b")
    lev = F.levenshtein(F.col("key_a"), F.col("key_b"))
    return cand.filter(lev <= max_dist).select(
        "id_a", "id_b", "key_a", "key_b", lev.cast("int").alias("lev")
    )
