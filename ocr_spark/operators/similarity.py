"""Vector similarity search operators (M3): O1/J1/J2 and the ANN scale path.

Replaces the reference's pgvector serving path
(/root/reference/src/db_utils.py:261-317, src/compare_similarity.py:74-138,
run_pipeline.sh:348-354): cosine top-k with threshold post-filter and
self-exclusion.

Scale notes
-----------
* single-query top-k: the similarity expression is a narrow projection;
  ``orderBy(desc).limit(k)`` plans as TakeOrderedAndProject (per-partition
  heap + driver merge — no global sort shuffle).
* query-batch top-k: small query side is broadcast; per-query ranking uses a
  window over the query id, which shuffles once on query_id.
* exact all-pairs (J2) is :func:`all_pairs_similarity_blocked`: one BLAS
  matmul per hash-block pair, never a per-pair expression cross join. At
  10^12 pairs brute force is infeasible; :func:`lsh_bucket_pairs` gives the
  banded-LSH pruning path (candidate pairs only from shared buckets), with
  exact cosine re-scoring inside buckets.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas-UDF type hints resolve from here
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark.functions.vectors import cosine_similarity


def top_k_similar(
    embeddings: DataFrame,
    query_vector: list[float],
    k: int = 10,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    exclude_id: str | None = None,
) -> DataFrame:
    """O1: top-k by cosine to one query vector (defaults k=10, threshold=0.8
    per /root/reference/src/db_utils.py:261)."""
    q = F.array(*[F.lit(float(x)) for x in query_vector])
    out = embeddings.withColumn("similarity", cosine_similarity(vec_col, q))
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != F.lit(exclude_id))
    return (
        out.filter(F.col("similarity") >= F.lit(threshold))
        .orderBy(F.desc("similarity"), F.col(id_col))
        .limit(k)
    )


def top_k_per_query(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    exclude_self: bool = True,
) -> DataFrame:
    """Per-query top-k: broadcast the (small) query batch, rank per query.

    Self-exclusion mirrors ``file_name != q``
    (/root/reference/src/compare_similarity.py:119-122).
    """
    joined = embeddings.crossJoin(F.broadcast(queries))
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col(query_id_col))
    sim = cosine_similarity(vec_col, query_vec_col).alias("similarity")
    w = Window.partitionBy(query_id_col).orderBy(F.desc("similarity"), F.col(id_col))
    return (
        joined.select(query_id_col, id_col, sim)
        .filter(F.col("similarity") >= F.lit(threshold))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _lcg_component(seed: int, plane: int, i: "F.Column") -> "F.Column":
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5).

    Pure integer LCG mix — chosen over xxhash64 because the identical
    arithmetic is expressible in any SQL engine (the DuckDB oracle recomputes
    it bit-for-bit): v = (1103515245*(seed + plane*8191 + i) + 12345) mod 2^31.
    """
    key = F.lit(seed + plane * 8191) + i.cast("long")
    v = F.pmod(F.lit(1103515245) * key + F.lit(12345), F.lit(2**31))
    return v.cast("double") / float(2**31) - 0.5


def band_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int,
    n_bands: int,
    seed: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, vec, band, bucket) — ALL bands' buckets from ONE scan.

    Scale/codegen shape (same lesson as ``dedup.minhash_signatures``):
    higher-order array functions are interpreted, never codegen'd, so the
    per-row ``aggregate(zip_with(...))`` form pays Catalyst eval overhead on
    every one of the n_bands×n_planes×dim terms (measured ~1.7 ms/row at
    dim=64). Here the vector EXPLODES once and every (band, plane) partial
    product is a plain scalar ``sum`` aggregate — whole-stage codegen
    HashAggregate with map-side combine; the shuffle carries
    n_bands×n_planes doubles per id. A row's elements stay contiguous in
    one task, so each sum accumulates left-to-right exactly like the
    sequential fold — the double-precision projections (and sign bits) are
    bit-identical to the SQL oracles' left-to-right fold (band b = seed +
    b*7919).

    Bit-identity CAVEAT: the guarantee holds only while the map-side hash
    aggregate does NOT spill. Under memory pressure Spark spills partial
    aggregates and merges them in an engine-chosen order; a near-zero
    projection could then flip its sign bit and desync a bucket id from the
    sequential-fold oracle. Downstream RESULTS stay correct (buckets only
    gate candidate generation and every candidate is exact-rescored), but a
    bucket-membership comparison against the SQL oracle is only exact
    spill-free — compare rescored top-k, not raw buckets, if spills are
    possible at the target scale.
    """
    # the explode carries ONLY (id, i, x): Generate copies its required
    # child columns into every output row, so carrying the vector would
    # materialize dim copies of it per input row (~2 GB/pass at 120k x 64).
    # The vector rejoins AFTER the per-id aggregation — one keyed shuffle of
    # corpus size instead.
    ex = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.col(vec_col)).alias("__i", "__x"),
    )
    x = F.col("__x").cast("double")
    i = F.col("__i")
    projs = ex.groupBy("__id").agg(
        *[
            F.sum(x * _lcg_component(seed + b * 7919, p, i)).alias(f"__pr_{b}_{p}")
            for b in range(n_bands)
            for p in range(n_planes)
        ],
    ).join(
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")),
        "__id",
    )
    def _bucket_of(b: int) -> "F.Column":
        out = None
        for p in range(n_planes):
            bit = F.when(F.col(f"__pr_{b}_{p}") >= 0, F.lit(1)).otherwise(
                F.lit(0)
            ) * F.lit(2**p)
            out = bit if out is None else out + bit
        return out

    buckets = F.array(*[_bucket_of(b) for b in range(n_bands)])
    # __buckets (n_bands ints) rides along so callers can replace their
    # cross-band dropDuplicates with the canonical-band filter (keep a
    # candidate only in the FIRST band whose buckets agree) — a per-row
    # predicate instead of a distinct exchange that shuffles the candidate
    # stream WITH its carried vectors. posexplode_outer on the materialized
    # column: no inferred size()>0 filter, Generate consumes an attribute.
    return projs.select("__id", "__vec", buckets.alias("__buckets")).select(
        "__id",
        "__vec",
        "__buckets",
        F.posexplode_outer("__buckets").alias("band", "bucket"),
    )


def ann_topk_per_query(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_bands: int = 2,
    seed: int = 42,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """ANN top-k: candidates = vectors sharing the query's random-projection
    bucket in >=1 band; exact cosine rescoring + per-query ranking.

    This is the scale path replacing pgvector's ivfflat index
    (/root/reference/src/db_utils.py:104-107): the bucket equi-join prunes
    the O(n_queries x n_vectors) cross join to per-bucket locality — one
    shuffle on (band, bucket) instead of a broadcast of everything. Recall
    is tunable via n_bands (independent plane sets). All bands' buckets come
    from ONE projection per side (:func:`band_buckets`), so the corpus scans
    once regardless of n_bands (the r1 version scanned + joined per band).
    """
    e_b = band_buckets(embeddings, dim, n_planes, n_bands, seed, id_col, vec_col)
    q_b = band_buckets(
        queries, dim, n_planes, n_bands, seed, query_id_col, query_vec_col
    ).select(
        F.col("__id").alias("__qid"), F.col("__vec").alias("__qvec"),
        F.col("__buckets").alias("__qbkts"), "band", "bucket",
    )
    # canonical-band filter: a (query, doc) candidate surfaces once per
    # shared band; keep it only in the FIRST band whose buckets agree —
    # per-row over the carried n_bands-int bucket arrays. The former
    # dropDuplicates exchange shuffled every candidate WITH both vectors.
    first_eq = F.array_position(
        F.zip_with("__buckets", "__qbkts", lambda x, y: x == y), F.lit(True)
    )
    cand = (
        e_b.join(q_b, ["band", "bucket"])
        .filter(F.col("band") + 1 == first_eq)
        .drop("band", "bucket", "__buckets", "__qbkts")
    )
    rescored = (
        cand.filter(F.col("__id") != F.col("__qid"))
        .withColumn("similarity", cosine_similarity("__vec", "__qvec"))
    )
    w = Window.partitionBy("__qid").orderBy(F.desc("similarity"), F.col("__id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id_col),
            F.col("__id").alias(id_col),
            "similarity",
            "rank",
        )
    )


def lsh_bucket_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.8,
    n_planes: int = 12,
    n_bands: int = 2,
    seed: int = 42,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN candidate generation: pairs sharing ≥1 random-projection band
    bucket, exact-cosine rescored. Recall grows with ``n_bands``; each band is
    an independent plane set. The bucket join replaces the O(n²) cross join
    with per-bucket locality (shuffle on (band, bucket)); all bands bucket in
    ONE scan via :func:`band_buckets`."""
    bucketed = band_buckets(embeddings, dim, n_planes, n_bands, seed, id_col, vec_col)
    a = bucketed.select(
        F.col("__id").alias("id_a"), F.col("__vec").alias("vec_a"),
        F.col("__buckets").alias("bkts_a"), "band", "bucket",
    )
    b = bucketed.select(
        F.col("__id").alias("id_b"), F.col("__vec").alias("vec_b"),
        F.col("__buckets").alias("bkts_b"), "band", "bucket",
    )
    # canonical-band filter replaces the cross-band dropDuplicates (whose
    # exchange shuffled every candidate pair WITH both vectors): keep a
    # pair only in the FIRST band whose buckets agree.
    first_eq = F.array_position(
        F.zip_with("bkts_a", "bkts_b", lambda x, y: x == y), F.lit(True)
    )
    cands = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("band") + 1 == first_eq)
    )
    return (
        cands.withColumn("similarity", cosine_similarity("vec_a", "vec_b"))
        .filter(F.col("similarity") >= F.lit(threshold))
        .select("id_a", "id_b", "similarity")
    )


def ivf_centroid_pick(
    embeddings: DataFrame,
    n_cells: int,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    seed: int = 0,
) -> DataFrame:
    """The ``n_cells`` rows with the smallest LCG key of the id —
    plans as TakeOrderedAndProject (per-partition k-heap + driver merge):
    no global sort, no count() job (tests/test_plan_hygiene.py pins this).

    Numeric ids feed the LCG directly (the oracle-mirrored form the gate
    queries pin); a string id would throw CAST_INVALID_INPUT under ANSI
    mode, so those fold to a deterministic long via xxhash64 first (same
    idiom as mixing.pack_sequences' shard derivation)."""
    from pyspark.sql.types import NumericType

    id_num = (
        F.col(id_col).cast("long")
        if isinstance(embeddings.schema[id_col].dataType, NumericType)
        # bounded to 2^31 so the LCG multiply cannot overflow a long
        else F.pmod(F.xxhash64(F.col(id_col)), F.lit(2**31))
    )
    lcg_key = F.pmod(
        F.lit(1103515245) * (id_num + F.lit(seed)) + F.lit(12345),
        F.lit(2**31),
    )
    return (
        embeddings.select(
            F.col(id_col).alias("__cid"),
            F.col(vec_col).alias("cvec"),
            lcg_key.alias("__key"),
        )
        .orderBy("__key", "__cid")
        .limit(n_cells)
    )


def centroids_one_row(spark, rows) -> DataFrame:
    """The centroid table COLLAPSED to one row holding
    array<struct<cell,cvec>> — broadcast-crossJoined by callers, so the
    centroids enter the plan as a COLUMN, never as literal expressions.
    The r2 form embedded n_cells x dim F.lit nodes per probe expression:
    fine at 16x64, a plan-compile/eval blowup at the reference's
    pgvector config (lists=100 x dim=1536 ~ 150k literals,
    /root/reference/src/db_utils.py:104-107). Array order inside the
    row is irrelevant: ranking sorts by (neg_sim, cell)."""
    df = spark.createDataFrame(
        [(int(r["cell"]), [float(x) for x in r["cvec"]]) for r in rows],
        "cell int, cvec array<double>",
    )
    return df.agg(F.collect_list(F.struct("cell", "cvec")).alias("__cents"))


def best_cells_column(vec: "F.Column", n: int) -> "F.Column":
    """cells of the n nearest centroids (cosine), as array<int>, read from
    the broadcast ``__cents`` column (native sort; ties break to the
    smaller cell via the (neg_sim, cell) struct order)."""
    scored = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            (-cosine_similarity(vec, c["cvec"])).alias("neg_sim"),
            c["cell"].alias("cell"),
        ),
    )
    return F.slice(
        F.transform(F.array_sort(scored), lambda s: s["cell"]), 1, n
    )


def with_best_cells(
    spark, df: DataFrame, vec: "F.Column", n: int, rows
) -> DataFrame:
    """df + the n best cells per row via ONE broadcast nested-loop join
    against the single-row centroid table: narrow (no shuffle), flat
    plan at any (n_cells, dim)."""
    return (
        df.crossJoin(F.broadcast(centroids_one_row(spark, rows)))
        .withColumn("__cells", best_cells_column(vec, n))
        .drop("__cents")
    )


def lloyd_iteration(
    spark, embeddings: DataFrame, cent_rows: list, vec_col: str = "embedding"
) -> list:
    """One Lloyd (k-means) iteration: assign every vector to its nearest
    centroid (broadcast column, no shuffle), then mean per (cell,
    component) — a posexplode into a map-side-combined avg whose shuffle
    carries n_cells x dim partial rows per task, and a driver collect of
    the SAME bounded size (model rows, not data rows). Empty cells vanish;
    survivors renumber densely 0..k-1. Refined centroids are float means
    whose cross-partition summation order is not bit-reproducible in SQL —
    oracle-gated callers stay at the seeded pick (refine/n_iter = 0)."""
    assigned_it = with_best_cells(
        spark, embeddings, F.col(vec_col), 1, cent_rows
    ).withColumn("cell", F.element_at("__cells", 1))
    means = (
        assigned_it.select("cell", F.posexplode(F.col(vec_col)).alias("__i", "__x"))
        .groupBy("cell", "__i")
        .agg(F.avg(F.col("__x").cast("double")).alias("m"))
        .collect()  # n_cells x dim rows — driver-side like the pick
    )
    by_cell: dict[int, dict[int, float]] = {}
    for r in means:
        by_cell.setdefault(r["cell"], {})[r["__i"]] = r["m"]
    return [
        {"cell": j, "cvec": [comps[i] for i in sorted(comps)]}
        for j, (_, comps) in enumerate(sorted(by_cell.items()))
    ]


def ivf_topk_per_query(
    embeddings: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    n_probe: int = 4,
    k: int = 5,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroid_seed: int = 0,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF (inverted-file) ANN: deterministic coarse quantizer + cell-local
    exact search — the second scale path next to :func:`ann_topk_per_query`
    (pgvector's ivfflat analog, /root/reference/src/db_utils.py:104-107,
    ``lists=100``).

    ``refine_iters`` runs that many Lloyd (k-means) iterations on the seeded
    pick — each is one distributed assign + per-component mean (posexplode →
    map-side-combined avg on (cell, i): the shuffle carries n_cells×dim
    partials per partition). Refined centroids are float means whose
    cross-partition summation order is not bit-reproducible in SQL, so the
    oracle-gated default stays 0; refinement is pytest-covered (recall vs
    brute force).

    * **Centroids**: the ``n_cells`` rows with the smallest LCG key of the
      numeric id — a deterministic pseudo-random sample via
      ``orderBy(key, id).limit(n_cells)``, which plans as
      TakeOrderedAndProject (per-partition k-row heap + driver merge).
      The r1 picker ranked the WHOLE table through an un-partitioned
      ``Window.orderBy`` (global single-task sort) plus an extra ``count()``
      job; this form needs neither. The LCG (not xxhash64) keeps the pick
      reproducible in plain SQL for the oracle. ``id_col`` must be numeric
      (pre-hash string ids). A kmeans|| refinement can replace the picker
      without plan changes.
    * **Assignment**: every vector goes to its max-cosine centroid. The
      centroids ride in as ONE broadcast row holding
      ``array<struct<cell,cvec>>`` (broadcast nested-loop crossJoin — no
      shuffle, no plan literals), so the plan stays flat at production dims
      (lists=100 × dim=1536); see :func:`make_ivf_assign_blas_udf` for the
      BLAS fast path when per-row HOF eval itself is the bottleneck.
    * **Search**: a query probes its ``n_probe`` nearest cells; exact cosine
      rescoring + ranking runs only inside those cells.
    Shuffle profile: one groupBy on cell id; candidate volume is
    ``n_probe/n_cells`` of the corpus instead of all of it.
    """
    cents = ivf_centroid_pick(embeddings, n_cells, id_col, vec_col, centroid_seed)
    # n_cells rows — driver-side by design; cell index = (key, id) rank
    cent_rows = sorted(cents.collect(), key=lambda r: (r["__key"], r["__cid"]))
    cent_rows = [
        {"cell": i, "cvec": r["cvec"]} for i, r in enumerate(cent_rows)
    ]
    spark = embeddings.sparkSession
    for _ in range(refine_iters):
        cent_rows = lloyd_iteration(
            spark, embeddings, cent_rows, vec_col=vec_col
        )

    assigned = with_best_cells(
        spark, embeddings, F.col(vec_col), 1, cent_rows
    ).withColumn("cell", F.element_at("__cells", 1)).drop("__cells")
    # explode_outer, NOT explode: plain explode makes the optimizer infer a
    # size(__cells)>0 filter and push it below the projection, re-substituting
    # the full _best_cells centroid-scoring expression (the O(n_cells x dim)
    # fold this broadcast-column design exists to evaluate ONCE per row) — the
    # inferred-filter pitfall pinned in tests/test_plan_hygiene.py. __cells is
    # provably non-empty (slice of the sorted non-empty centroid array), so
    # the outer form is semantics-identical.
    probed = with_best_cells(
        spark, queries, F.col(query_vec_col), n_probe, cent_rows
    ).withColumn("cell", F.explode_outer("__cells")).drop("__cells")
    cand = assigned.join(probed, "cell").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    rescored = cand.withColumn(
        "similarity", cosine_similarity(vec_col, query_vec_col)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("similarity"), F.col(id_col))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "similarity", "rank")
    )


def make_ivf_assign_blas_udf(cent_rows: list[dict]):
    """Factory for the BLAS cell-assignment pandas UDF — the throughput path
    for production IVF configs (lists=100 × dim=1536, the reference's
    pgvector setup, /root/reference/src/db_utils.py:104-107) where the
    native per-row HOF cosine fold is interpreter-bound.

    One numpy matmul per Arrow batch against the closure-captured centroid
    matrix; centroid rows are pre-unit-normalized (row-side norms scale all
    of a row's cosines equally, so argmax is unaffected). Ties resolve to
    the smallest cell (argmax returns the first maximum over cells sorted
    ascending) — the same rule as the native ``array_sort`` ranking.
    Summation order differs from the sequential fold, so a near-tie can
    resolve differently from the SQL oracle's fold: the ``semdedup_keep``
    gate (cluster.assign_clusters runs this UDF) holds parity on its
    corpus, and the equivalence tests pin agreement with the native
    ranking on well-separated corpora.

    Factory (not module-level @pandas_udf): DDL-typed module-level pandas
    UDFs crash on worker import (see operators/embed.py).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rows = sorted(cent_rows, key=lambda r: r["cell"])
    cells = np.array([int(r["cell"]) for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r["cvec"], dtype=np.float64) for r in rows])
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    # a zero-norm centroid (possible from caller-supplied centroids) would
    # normalize to a NaN row, and NaN wins argmax — silently assigning EVERY
    # vector to the bogus cell. Leave such rows at norm 1 and force their
    # sims to -inf so they can never be chosen, matching the native path's
    # "zero centroid ranks last" behavior.
    zero_mask = (norms == 0.0).ravel()
    norms[zero_mask] = 1.0
    mat /= norms

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:  # np.stack raises on an empty Arrow batch
            return pd.Series([], dtype="int32")
        m = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        sims = m @ mat.T
        if zero_mask.any():
            sims[:, zero_mask] = -np.inf
        return pd.Series(cells[sims.argmax(axis=1)])

    return _assign


def all_pairs_similarity_blocked(
    embeddings: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    n_blocks: int = 4,
) -> DataFrame:
    """Block-partitioned brute-force all-pairs cosine — the scale design.

    Rows are hashed into ``n_blocks`` blocks; each row is replicated to every
    block-pair it participates in (factor ≤ n_blocks), then one
    ``applyInPandas`` per block-pair computes the full cosine submatrix with
    a single numpy/BLAS matmul and emits only pairs ≥ threshold. Same
    O(n²) math as a per-pair expression cross join but ~100x less per-pair
    overhead (matmul vs per-pair expression eval), and each task's working
    set is two blocks — size n/n_blocks to fit executor memory at any corpus
    size. Output pairs are oriented min(id) < max(id); the id type is read
    from the schema, so string ids work as well as numeric ones.
    """
    e = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_blocks))
        .cast("int")
        .alias("blk"),
    )
    keys = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]
    rep = e.select(
        "id",
        "v",
        "blk",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("bi"), F.lit(j).alias("bj"))
                    for i, j in keys
                ]
            )
        ).alias("k"),
    ).filter((F.col("k.bi") == F.col("blk")) | (F.col("k.bj") == F.col("blk")))

    id_ddl = embeddings.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_ddl}, id_b {id_ddl}, similarity double"

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        bi, bj = pdf["k"].iloc[0]["bi"], pdf["k"].iloc[0]["bj"]
        a = pdf[pdf["blk"] == bi]
        b = pdf[pdf["blk"] == bj]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame(columns=["id_a", "id_b", "similarity"])
        ma = np.stack([np.asarray(x, dtype=np.float64) for x in a["v"]])
        mb = np.stack([np.asarray(x, dtype=np.float64) for x in b["v"]])
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        sims = ma @ mb.T
        ia, ib = np.nonzero(sims >= threshold)
        ids_a = a["id"].to_numpy()[ia]
        ids_b = b["id"].to_numpy()[ib]
        keep = ids_a != ids_b
        lo = np.minimum(ids_a[keep], ids_b[keep])
        hi = np.maximum(ids_a[keep], ids_b[keep])
        res = pd.DataFrame(
            {"id_a": lo, "id_b": hi, "similarity": sims[ia, ib][keep]}
        )
        # intra-block submatrix sees each unordered pair twice (x,y)+(y,x)
        return res.drop_duplicates(["id_a", "id_b"]) if bi == bj else res

    return rep.groupBy("k").applyInPandas(_block, schema=out_schema)


def most_least_similar_pair(
    embeddings: DataFrame,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    n_blocks: int = 4,
) -> DataFrame:
    """A7: argmax/argmin similarity pair
    (/root/reference/src/embedding_analyzer.py:245-259).

    All pairs must be scored (threshold −2 keeps everything), so the pair
    source is the blocked-matmul path — each task holds two hash-blocks and
    runs one BLAS matmul — rather than the per-pair expression cross join
    (the r1 version's unpruned cartesian; correct but a scale-killer). The
    final agg is a map-side-combining max_by/min_by: the only full-table
    traffic is one row per partition into the driver-side merge."""
    pairs = all_pairs_similarity_blocked(
        embeddings, threshold=-2.0, id_col=id_col, vec_col=vec_col, n_blocks=n_blocks
    )
    # deterministic tiebreak (duplicate vectors tie at similarity 1.0):
    # among equal-similarity pairs take the smallest (id_a, id_b). The max
    # side is a min_by over (-similarity, id_a, id_b) — negating the
    # SIMILARITY (always double) rather than the ids, so the tiebreak stays
    # deterministic for string ids too (unary minus on a string id would
    # implicitly cast to double and yield NULL); the oracle resolves ties
    # the same way
    return pairs.agg(
        F.min_by(
            F.struct("id_a", "id_b"),
            F.struct(
                (-F.col("similarity")).alias("ns"),
                F.col("id_a"),
                F.col("id_b"),
            ),
        ).alias("most_similar"),
        F.min_by(
            F.struct("id_a", "id_b"),
            F.struct(F.col("similarity"), F.col("id_a"), F.col("id_b")),
        ).alias("least_similar"),
        F.max("similarity").alias("max_similarity"),
        F.min("similarity").alias("min_similarity"),
    )


def head_tail_similar(
    scored: DataFrame,
    num_similar: int = 5,
    num_dissimilar: int = 5,
    order_col: str = "similarity",
    tiebreak_cols: tuple[str, ...] = (),
    key_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """O5: head/tail slice by similarity
    (/root/reference/src/embedding_analyzer.py:329-333).

    ``tiebreak_cols`` make the slice deterministic under equal scores.

    SET semantics: the head and tail slices are unioned and deduplicated, so
    fully-identical input rows collapse to one (unlike the r1 window form,
    which preserved multiplicity). The dedup groups on ``key_cols`` when
    given (use this when ``scored`` carries non-groupable column types like
    ``map``, or when duplicate rows must be distinguishable by a key);
    with the default ``None`` it groups on EVERY column.

    Plan shape: two ``orderBy().limit(k)`` slices — each a
    TakeOrderedAndProject (per-partition heap of k rows + driver merge) —
    then a union deduplicated by a k-row aggregation. The r1 version ranked
    with two un-partitioned windows, i.e. two full global sorts through a
    single task; this form touches the full table only via the heaps."""
    tb = [F.col(c) for c in tiebreak_cols]
    top = (
        scored.orderBy(F.desc(order_col), *tb)
        .limit(num_similar)
        .withColumn("side", F.lit("similar"))
    )
    bot = (
        scored.orderBy(F.asc(order_col), *tb)
        .limit(num_dissimilar)
        .withColumn("side", F.lit("dissimilar"))
    )
    # a row in BOTH slices (table smaller than num_similar+num_dissimilar)
    # must surface once, labeled 'similar' — max() works because
    # 'similar' > 'dissimilar' lexically; the groupBy runs over ≤ 2k rows
    group_cols = list(key_cols) if key_cols is not None else list(scored.columns)
    unioned = top.unionByName(bot)
    if key_cols is not None:
        # keep one representative row per key, chosen ATOMICALLY: a single
        # max_by over the whole remaining row guarantees the output is an
        # actual input row (per-column any_value could stitch a chimera from
        # different rows when distinct rows share a key across the two
        # slices). Ordering: 'similar' side wins ('similar' > 'dissimilar'
        # lexically), then order_col desc, then tiebreak_cols — pass
        # tiebreak_cols that disambiguate duplicate keys within a side for
        # full determinism.
        keep = [c for c in scored.columns if c not in group_cols] + ["side"]
        ordering = F.struct(
            F.col("side"),
            F.col(order_col),
            *[F.col(c) for c in tiebreak_cols],
        )
        rep = unioned.groupBy(*group_cols).agg(
            F.max_by(F.struct(*keep), ordering).alias("__rep")
        )
        return rep.select(
            *[
                F.col(c) if c in group_cols else F.col("__rep")[c].alias(c)
                for c in scored.columns
            ],
            F.col("__rep")["side"].alias("side"),
        )
    return (
        unioned
        .groupBy(*group_cols)
        .agg(F.max("side").alias("side"))
    )
