"""Deduplication operators for large-scale corpus curation.

Beyond the reference's operator set (which only enforces key uniqueness,
/root/reference/db/tags_schema.sql:37): exact, MinHash+LSH, SimHash and
n-gram-Jaccard near-dup detection — the operations a 100 TB training-data
pipeline needs. Everything is native column expressions — zero Python.
MinHash and SimHash signatures explode the words/shingles once per row and
build per-doc minima/bit counters with map-side-combined aggregations (no
expensive array referenced from a HOF lambda, where Catalyst has no CSE).
MinHash hashes with ``xxhash64``; SimHash with md5, which DuckDB also
computes, so the ``simhash_dups`` gate is fully oracle-checked.

Scale design: candidate generation is always bucket-local (join on a band
hash / SimHash block-pair key), never an O(n²) cross join; exact
verification runs only inside candidate groups, and cross-index duplicate
pairs are dropped by per-row canonical-index filters, never a pair-stream
shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark.functions.textstats import WS_CLASS


def normalized_text(col: Column | str) -> Column:
    """Canonical form for exact dedup: case-fold, collapse whitespace, trim.

    Whitespace is the explicit shared class (textstats.WS_CLASS), never the
    engine-default ``\\s``, and the fold is the FROZEN portable fold
    (textstats.fold_lower), never engine ``lower()`` — this column feeds
    value-exact cross-engine comparisons, and the engines' lower() tables
    disagree on codepoints re-mapped between their Unicode versions."""
    from ocr_spark.functions.textstats import fold_lower

    return F.trim(F.regexp_replace(fold_lower(col), WS_CLASS + "+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized text: keep the smallest id per content hash.

    hash-groupBy (one shuffle on the 64-bit content hash); survivors keep all
    original columns.
    """
    h = F.xxhash64(normalized_text(text_col))
    w = Window.partitionBy("__h").orderBy(id_col)
    return (
        df.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


def with_shingles(
    df: DataFrame, text_col: str = "text", k: int = 3, out_col: str = "shingles"
) -> DataFrame:
    """Append distinct word k-shingles with the words array MATERIALIZED as
    its own projection first, so the split runs once per row and the lambda
    only slices a bound column (the alias is referenced more than once and
    is non-cheap, so CollapseProject cannot re-inline it — verified by the
    heavy-doc timing test). Linear in document length: a split referenced
    inside the transform lambda instead is re-inlined there (no CSE in HOF
    lambda bodies) and re-runs once PER SHINGLE, O(len²) on big documents.

    Documents with fewer than k words contribute their whole text as the
    single shingle (so short docs still dedupe exactly)."""
    w = df.withColumn("__words", F.split(normalized_text(text_col), " "))
    n = F.size(F.col("__words"))
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(F.col("__words"), i, k), " "),
        )
    )
    return w.withColumn(out_col, shingles).drop("__words")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 32,
    seed: int = 42,
) -> DataFrame:
    """(id, sig:array<long>) via explode — the scale path.

    Shingling runs ONCE per row; each shingle is hashed ``n_hashes`` times;
    per-permutation minima come from a map-side-combined ``min`` aggregation,
    so the shuffle carries only ``n_hashes`` longs per document. (A
    per-permutation ``array_min(transform(shingles, ...))`` column form
    re-evaluates the shingle array once per permutation — no CSE in HOF
    lambdas — and measured 30× slower.)
    """
    # explode_OUTER, deliberately: plain explode makes the optimizer infer a
    # `size(shingles) > 0` Filter and push it below the words projection,
    # re-substituting the FULL shingle expression with the split re-inlined
    # inside the lambda — the exact O(len²) this module works to avoid
    # (verified via jstack: StringSplit inside ArrayTransform in the Filter).
    # The shingles array is never empty (with_shingles emits ≥1), so outer
    # explode is row-identical and generates no such filter.
    exploded = with_shingles(df, text_col, k).select(
        F.col(id_col).alias("id"), F.explode_outer("shingles").alias("s")
    )
    mins = exploded.groupBy("id").agg(
        *[
            F.min(F.xxhash64(F.col("s"), F.lit(seed + h))).alias(f"__h{h}")
            for h in range(n_hashes)
        ]
    )
    return mins.select(
        "id", F.array(*[F.col(f"__h{h}") for h in range(n_hashes)]).alias("sig")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 32,
    n_bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """MinHash + banded LSH candidate pairs (id_a < id_b).

    shingle → signature → split into ``n_bands`` bands of ``n_hashes/n_bands``
    rows → band-hash groupBy join. Shuffles once on (band, band_hash);
    candidate volume is bucket-local.

    Cross-band duplicate pairs are removed by the canonical-band filter —
    keep a pair only in the FIRST band where the two band hashes agree, a
    per-row predicate over the carried band-hash arrays (n_bands longs per
    doc riding the explode) — NOT by ``dropDuplicates([id_a, id_b])``:
    that distinct's exchange shuffles the full candidate-pair stream,
    which on a near-dup-heavy corpus is the largest dataset in the job
    (65.6M pairs on the 500k smoke corpus vs 4M band rows).
    """
    rows = n_hashes // n_bands
    base = minhash_signatures(df, text_col, id_col, k, n_hashes, seed)
    bh = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.xxhash64(
            F.array_join(
                F.transform(F.slice("sig", b * rows + 1, rows), lambda x: x.cast("string")),
                ",",
            )
        ),
    )
    # outer: bh is provably non-empty; a plain posexplode would let the
    # optimizer infer a size()>0 filter that re-substitutes the band-hash
    # transform below the projection (the dedup/boilerplate pitfall)
    bands = base.select("id", bh.alias("bh")).select(
        "id", "bh", F.posexplode_outer("bh").alias("band", "band_hash")
    )
    a = bands.select(
        F.col("id").alias("id_a"), F.col("bh").alias("bh_a"), "band", "band_hash"
    )
    b = bands.select(
        F.col("id").alias("id_b"), F.col("bh").alias("bh_b"), "band", "band_hash"
    )
    # first band whose hashes agree: 1-based array_position over the
    # elementwise-equality zip (real 2-arg closure — no default-arg lambda)
    first_eq = F.array_position(
        F.zip_with("bh_a", "bh_b", lambda x, y: x == y), F.lit(True)
    )
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("band") + 1 == first_eq)
        .select("id_a", "id_b")
    )


def jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard verification of candidate pairs:
    |A∩B| / |A∪B| over distinct word k-shingles, native set ops."""
    sh = with_shingles(df, text_col, k).select(F.col(id_col).alias("id"), "shingles")
    joined = (
        candidates.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node connects its strictly-larger
    neighbors to the minimum of its neighborhood (incl. itself). Input and
    output edges are canonical ``(u, v)`` with ``u > v``."""
    nbrs = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = nbrs.groupBy("u").agg(F.least(F.col("u"), F.min("v")).alias("m"))
    # emitted (bigger-neighbor, neighborhood-min) is canonical: v > u >= m.
    # NO distinct here: the only consumer is _small_star, whose groupBy-min
    # is duplicate-insensitive and whose own terminal distinct produces the
    # identical edge set either way — dropping it removes one full shuffle
    # of the round's largest intermediate from every round (the r5 ccskew
    # leg showed the fixpoint loop is stage-overhead-bound).
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node links all of its smaller neighbors
    (and itself) to the smallest of them. Canonical ``(u, v)``, ``u > v``."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    relink = (
        edges.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    own = mins.select("u", F.col("m").alias("v"))
    return relink.unionByName(own).distinct()


def _edge_signature(edges: DataFrame):
    """One-pass set signature for the fixpoint check: ``(count,
    sum(xxhash64(u, v)), bit_xor(xxhash64(1, u, v)))`` over the (distinct)
    edge set. The xor leg's leading constant is hashed first and seeds the
    rest, so the legs are two independently seeded 64-bit hashes of each
    edge (legs over one hash would share bit 0 — a sum's low bit is the
    xor's — and one hash collision between two edges would fool both).
    Modeled as uniform random functions, two different edge sets of equal
    count collide with probability ~2⁻¹²⁸ per check. Replaces the earlier exact
    ``exceptAll ∪ exceptAll → isEmpty`` check, which shuffled BOTH edge
    sets twice per round and dominated the loop once the edge set shrank
    (the r5 ccskew scaling leg read 0.374 N→4N from that overhead)."""
    h = F.xxhash64("u", "v")
    # decimal(38,0) sum: a long sum of 64-bit hashes overflows under ANSI
    # mode; 10^12 edges × 2^63 still fits 38 digits with room to spare
    return tuple(
        edges.agg(
            F.count("*").alias("c"),
            F.sum(h.cast("decimal(38,0)")).alias("s"),
            F.expr("bit_xor(xxhash64(1, u, v))").alias("x"),
        ).collect()[0]
    )


def _star_components(
    edges: DataFrame, max_iter: int
) -> tuple[DataFrame, int, bool]:
    """Alternate large-star/small-star until the edge set is a fixpoint —
    at convergence every component is a star whose center is its minimum
    id. Rounds are bounded O(log² n) in the COMPONENT SIZE, independent of
    graph diameter (the property min-label propagation lacks). Returns
    ``(node→min mapping, rounds, converged)``; under non-convergence the
    mapping is the partial ``groupBy-min`` of the remaining edges.

    Each round's output is repartitioned to the session default
    parallelism before the checkpoint: localCheckpoint freezes the RDD's
    partition count, and the per-round ``unionByName`` inside the star
    passes SUMS its children's counts — unpinned, the width compounds
    round over round into thousands of near-empty tasks whose scheduling
    cost is parallelism-independent (the ccskew leg's 0.374 before the
    pin). The edge set only shrinks, so default-parallelism partitions
    are always enough."""
    width = edges.sparkSession.sparkContext.defaultParallelism
    edges = edges.repartition(width).localCheckpoint()
    sig = _edge_signature(edges)
    rounds, converged = 0, sig[0] == 0
    while not converged and rounds < max_iter:
        rounds += 1
        new_edges = (
            _small_star(_large_star(edges)).repartition(width).localCheckpoint()
        )
        new_sig = _edge_signature(new_edges)
        converged = new_sig == sig
        edges, sig = new_edges, new_sig
    # at fixpoint each non-root has exactly one edge (u, root); the
    # groupBy-min is the identity there and a safe partial label otherwise
    mapping = edges.groupBy("u").agg(F.min("v").alias("label")).select(
        F.col("u").alias("id"), "label"
    )
    return mapping, rounds, converged


def dup_clusters(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over duplicate pairs → (id, cluster), where
    ``cluster`` = the smallest id reachable through dup edges. Transitivity
    matters: A≈B and B≈C must share one cluster even when A and C are not a
    candidate pair themselves.

    Alternating large-star/small-star (Kiveris et al. 2014): rounds are
    bounded O(log² n) in component size, INDEPENDENT of graph diameter, so
    a pathological 10⁶-link chain at 100× scale converges in ~a dozen
    rounds instead of the 10⁶ that min-label propagation would need. Each
    round is two groupBy+join passes over the (shrinking) edge set and a
    localCheckpoint (flat plans); the driver-side loop is a convergence
    CHECK (one bounded action per round), not a data path. ``nodes``
    (optional) adds isolated ids as singleton clusters. ``stats`` (optional
    dict) receives ``{"rounds": n}`` for diagnostics.

    If the edge set has not reached its fixpoint after ``max_iter`` rounds
    the result would be silently split, so this RAISES instead.
    """
    if max_iter < 1:
        raise ValueError("dup_clusters needs max_iter >= 1")
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    ).distinct()
    members = edges.select(F.col("src").alias("id")).distinct()
    if nodes is not None:
        members = members.unionByName(
            nodes.select(F.col(id_col).alias("id"))
        ).distinct()
    canon = edges.filter(F.col("src") > F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    mapping, rounds, converged = _star_components(canon, max_iter)
    if stats is not None:
        stats.update(rounds=rounds)
    if not converged:
        raise RuntimeError(
            f"dup_clusters did not converge within max_iter={max_iter} rounds"
            " — raise max_iter"
        )
    return members.join(mapping, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("label", "id").alias("cluster"),
    )


def embedding_near_dup_ids(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup removal set: ids whose vector is within
    ``threshold`` cosine of a LOWER id (drop-the-larger greedy policy).

    With ``dim`` set, candidate pairs come from the LSH bucket join
    (:func:`ocr_spark.operators.similarity.lsh_bucket_pairs`); without it,
    exact all-pairs via the blocked-matmul path
    (:func:`~ocr_spark.operators.similarity.all_pairs_similarity_blocked`).
    """
    from ocr_spark.operators.similarity import (
        all_pairs_similarity_blocked,
        lsh_bucket_pairs,
    )

    if dim is not None:
        pairs = lsh_bucket_pairs(
            embeddings, dim, threshold=threshold, id_col=id_col, vec_col=vec_col
        )
    else:
        pairs = all_pairs_similarity_blocked(
            embeddings, threshold=threshold, id_col=id_col, vec_col=vec_col
        )
    return pairs.select(F.col("id_b").alias(id_col)).distinct()


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sh:long) — 64-bit SimHash of normalized text. The per-word
    64-bit hash is the first 16 hex chars of md5(word), a function Spark
    and DuckDB evaluate identically, so the ``simhash_dups`` oracle
    recomputes every bit.

    Words are EXPLODED and each md5 parses ONCE into two 32-bit halves
    (hex digits 9..16 are bits 0..31, digits 1..8 bits 32..63); the 64 bit
    counters are map-side-combined conditional sums (the shuffle carries 64
    ints per doc) and pack straight into one long with pure shift/mask —
    no per-bit string parsing, no HOF lambda, no Python, no 64-int array.
    NULL text packs to 0."""
    exploded = df.select(
        F.col(id_col).alias("id"),
        # outer: the optimizer's inferred size()>0 filter would re-evaluate
        # split per row (split of normalized text is never empty)
        F.explode_outer(F.split(normalized_text(text_col), " ")).alias("w"),
    )
    h = F.md5("w")
    hexed = exploded.select(
        "id",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("__hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("__lo"),
    )

    def _bit(j: int) -> Column:
        src = F.col("__lo") if j < 32 else F.col("__hi")
        return F.shiftright(src, j % 32).bitwiseAND(F.lit(1))

    counters = hexed.groupBy("id").agg(
        *[
            F.sum(F.when(_bit(j) == 1, 1).otherwise(-1)).alias(f"__c{j}")
            for j in range(64)
        ]
    )

    def _pack(start: int) -> Column:
        return sum(
            F.when(F.col(f"__c{start + j}") > 0, F.lit(1 << j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for j in range(32)
        )

    return counters.select(
        "id",
        F.shiftleft(_pack(32), 32).bitwiseOR(_pack(0)).alias("sh"),
    )


def _check_simhash_recall_multi(max_hamming: int, n_blocks: int) -> None:
    """Pair-of-blocks pigeonhole: h differing bits dirty at most h blocks,
    so ≥2 blocks stay clean — and some PAIR of clean blocks is shared —
    exactly when h ≤ n_blocks − 2."""
    if max_hamming > n_blocks - 2:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_blocks >= max_hamming + 2 "
            f"for guaranteed pair-index recall (got n_blocks={n_blocks}): "
            "fewer than two clean blocks would remain, so no block pair is "
            "guaranteed shared"
        )


def _first_equal_pair_idx(xor64: Column, n_blocks: int, width: int) -> Column:
    """Least ``pidx = i*n_blocks + j`` over block pairs (i<j) with BOTH
    blocks equal; NULL when none.

    Canonical-index dedup: a near-dup pair surfaces once per shared block
    pair (index), so keeping it only where ``pidx == _first_equal_pair_idx``
    leaves exactly one copy — as a per-row, map-side filter. This replaces
    ``dropDuplicates([id_a, id_b])``, whose exchange shuffles the FULL
    candidate-pair stream (on a self-similar corpus, the largest dataset in
    the whole job: measured 135 s → 57 s on a 500k-doc corpus at 8 cores
    when removed). Every joined pair has its own index equal, so the least
    is non-NULL for real candidates and recall is untouched."""
    mask = (1 << width) - 1
    eqs = [
        F.shiftright(xor64, b * width).bitwiseAND(F.lit(mask)) == 0
        for b in range(n_blocks)
    ]
    return F.least(
        *[
            F.when(eqs[i] & eqs[j], F.lit(i * n_blocks + j))
            for i in range(n_blocks)
            for j in range(i + 1, n_blocks)
        ]
    )


def _pair_index_candidates(
    base: DataFrame,
    n_blocks: int,
    width: int,
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Multi-index SimHash blocking over ``base(id, block_0..block_{n-1},
    *payload_cols)``: candidate pairs share at least one clean PAIR of
    blocks — C(n_blocks, 2) indexes, each keyed by the
    concatenation of two block values (2·width bits).

    This is the ≥10⁹-doc scale fix for single-block bucketing: one 8-bit
    block gives only 2⁸ = 256 buckets per index (per-bucket self-joins go
    quadratic on a large corpus), while a block PAIR gives 2¹⁶ = 65,536
    buckets per index — bucket occupancy drops ~2^width× at the cost of
    C(n,2)/n× more index rows. Recall: guaranteed for hamming ≤ n_blocks−2
    (:func:`_check_simhash_recall_multi`).

    Shuffle shape: (id, payloads, pidx, pkey) rides the explode. Generate
    copies its child columns into every output row, so ``payload_cols``
    must be NARROW scalars (the packed 8-byte hash × C(n,2) copies per
    doc) — carrying them beats two id-keyed corpus-wide rejoins that each
    recompute the per-word hash aggregation upstream (measured 3×
    full-scan duplication, zero ReusedExchange). Block values are
    materialized columns, so the exploded array is cheap (no
    inferred-filter re-substitution hazard).

    Returns raw per-index matches with their ``pidx``: a pair appears
    exactly once per shared clean block pair (each doc contributes one row
    per index, so the per-index bucket join cannot repeat a pair). Callers
    apply cheap per-row filters — Hamming ≤ k on the carried payloads, then
    the canonical-index filter (:func:`_first_equal_pair_idx`) — instead of
    a ``dropDuplicates`` exchange over the candidate-pair stream."""
    pairs = [(i, j) for i in range(n_blocks) for j in range(i + 1, n_blocks)]
    keys = F.array(
        *[
            F.struct(
                F.lit(i * n_blocks + j).alias("pidx"),
                (
                    F.col(f"block_{i}").cast("long") * F.lit(1 << width)
                    + F.col(f"block_{j}").cast("long")
                ).alias("pkey"),
            )
            for i, j in pairs
        ]
    )
    ex = base.select("id", *payload_cols, F.explode(keys).alias("k")).select(
        "id", *payload_cols, F.col("k.pidx").alias("pidx"), F.col("k.pkey").alias("pkey")
    )
    a = ex.select(
        F.col("id").alias("id_a"),
        *[F.col(p).alias(f"{p}_a") for p in payload_cols],
        "pidx",
        "pkey",
    )
    b = ex.select(
        F.col("id").alias("id_b"),
        *[F.col(p).alias(f"{p}_b") for p in payload_cols],
        "pidx",
        "pkey",
    )
    out_cols = ["id_a", "id_b"] + [
        f"{p}_{s}" for p in payload_cols for s in ("a", "b")
    ] + ["pidx"]
    return (
        a.join(b, ["pidx", "pkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(*out_cols)
    )


def hamming64(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two 64-bit hashes via bit_count(xor)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def simhash_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs (id_a < id_b, hamming ≤ ``max_hamming``) —
    never all-pairs. Candidates share ≥1 PAIR of ``64/n_blocks``-bit blocks
    (:func:`_pair_index_candidates`; recall guaranteed for hamming ≤
    n_blocks−2, :func:`_check_simhash_recall_multi`). The 8-byte hash rides
    the candidate explode, so Hamming verification and the canonical-index
    filter are both per-row: NO shuffle ever carries the candidate-pair
    stream (the former dropDuplicates exchange dominated the job on
    self-similar corpora)."""
    _check_simhash_recall_multi(max_hamming, n_blocks)
    width = 64 // n_blocks
    base = simhash_signatures(df, text_col, id_col)
    for b in range(n_blocks):
        base = base.withColumn(
            f"block_{b}",
            F.shiftright(F.col("sh"), b * width).bitwiseAND(F.lit((1 << width) - 1)),
        )
    return (
        _pair_index_candidates(base, n_blocks, width, payload_cols=("sh",))
        .withColumn("hamming", hamming64("sh_a", "sh_b"))
        .filter(F.col("hamming") <= max_hamming)
        .filter(
            F.col("pidx")
            == _first_equal_pair_idx(
                F.col("sh_a").bitwiseXOR(F.col("sh_b")), n_blocks, width
            )
        )
        .select("id_a", "id_b", "hamming")
    )
