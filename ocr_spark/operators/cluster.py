"""Embedding-space corpus clustering and SemDeDup semantic deduplication.

SemDeDup (Abbas et al. 2023, arXiv:2303.09540) is the embedding-space
complement to the token-level dedup family (dedup.py): k-means-cluster the
corpus embeddings, then look for near-duplicate pairs ONLY inside each
cluster — the cluster structure bounds the candidate set the way LSH bands
bound it for MinHash. The reference's similarity tooling compares documents
pairwise through pgvector (/root/reference/src/compare_similarity.py:74-138);
this module is the 10^12-doc version of that comparison, where brute-force
pairs are impossible and cell-local pairs are the plan.

Scale design:

* **Centroids are model-sized, data-flow is bounded.** ``kmeans_fit`` is the
  standard distributed Lloyd loop: the only driver-side materializations are
  the k seeded picks and the k x dim per-iteration means (model rows, never
  data rows); each iteration is one broadcast-column assignment (no shuffle)
  plus one map-side-combined aggregation (reuses
  similarity.lloyd_iteration — the machinery behind IVF's refine_iters).
* **Assignment never shuffles.** It is row-local: one numpy matmul per
  Arrow batch against the closure-captured centroid matrix
  (similarity.make_ivf_assign_blas_udf) — no plan literals, flat plan at
  production dims.
* **Pairs are cell-local.** The self-join keys on the cell id, so candidate
  volume is sum(|cell| choose 2), not (n choose 2). Cell granularity is the
  knob: n_cells ~ corpus_size / target_cell_size keeps cells bounded; a hot
  cell is a centroid-resolution problem (raise n_cells / refine more), not a
  plan problem.
* **The duplicate stream collapses before it moves.** A doc is a duplicate
  iff SOME smaller-id cell-mate sits within the threshold; that exists-
  aggregation runs as groupBy(id).count-style map-side combine over the pair
  stream — never a dropDuplicates over the pairs (the CLAUDE.md pair-stream
  pitfall) — and the result joins back at one row per duplicate doc.
* **Giant cells are sub-blocked, never one task.** The cell-keyed self-join
  puts ALL of a cell's pairs in one task — the value-keyed skew bomb. Cells
  above ``max_cell_size`` rows are salted into ``ceil(size/max_cell_size)``
  hash blocks and scanned per block-PAIR with an ``applyInPandas`` BLAS
  kernel (the all_pairs_similarity_blocked shape, keyed by
  (cell, bi, bj)): per-task working set is two bounded blocks, task count
  grows quadratically with the hot cell instead of work-per-task, and each
  task emits at most one partial-witness row per doc (the pair stream
  collapses INSIDE the kernel, so an all-duplicates cell moves O(m) rows,
  not O(m²) pairs).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.vectors import cosine_similarity
from ocr_spark.operators.similarity import (
    ivf_centroid_pick,
    lloyd_iteration,
    make_ivf_assign_blas_udf,
)


def kmeans_fit(
    embeddings: DataFrame,
    k: int,
    n_iter: int = 5,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    seed: int = 0,
) -> list[dict]:
    """Distributed Lloyd k-means; returns ``[{"cell": int, "cvec": [...]}]``.

    Init = the deterministic LCG pick (similarity.ivf_centroid_pick — a
    TakeOrderedAndProject, no global sort); each iteration = one broadcast
    assignment + one map-side-combined (cell, component) mean. Empty cells
    drop out and survivors renumber densely, so the result may have fewer
    than ``k`` rows. ``n_iter=0`` returns the seeded pick itself — the
    bit-reproducible form the SQL oracles use (float means are not
    cross-engine reproducible; see lloyd_iteration)."""
    if k < 1:
        raise ValueError("kmeans_fit needs k >= 1")
    spark = embeddings.sparkSession
    picked = ivf_centroid_pick(embeddings, k, id_col, vec_col, seed)
    rows = sorted(picked.collect(), key=lambda r: (r["__key"], r["__cid"]))
    cent_rows = [{"cell": i, "cvec": r["cvec"]} for i, r in enumerate(rows)]
    for _ in range(n_iter):
        cent_rows = lloyd_iteration(spark, embeddings, cent_rows, vec_col=vec_col)
    return cent_rows


def assign_clusters(
    embeddings: DataFrame,
    cent_rows: list[dict],
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Every row + its nearest-centroid ``cell_col`` (max cosine, ties to
    the smaller cell) — row-local, zero shuffles.

    Runs the Arrow-batched numpy-matmul assignment
    (similarity.make_ivf_assign_blas_udf), which stays fast where n_cells x
    dim makes a per-row native fold interpreter-bound (SemDeDup at
    production scale runs ~100k clusters). It is the path the
    ``semdedup_keep`` gate verifies against its SQL oracle and the SemDeDup
    scaling legs measure; its tie rule is the native ranking's
    (similarity.with_best_cells), which the Lloyd steps still run."""
    assign_udf = make_ivf_assign_blas_udf(cent_rows)
    return embeddings.withColumn(cell_col, assign_udf(F.col(vec_col)))


def semdedup(
    embeddings: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.95,
    n_iter: int = 0,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    seed: int = 0,
    max_cell_size: int = 4096,
) -> DataFrame:
    """SemDeDup keep/drop marking: adds ``cell`` and ``keep``.

    A document is dropped iff some SMALLER-id document in the same cell has
    cosine similarity >= ``threshold`` — the deterministic representative
    rule (the group's minimum id always survives; every other member has
    that witness). Output carries every input row with its verdict so
    callers can filter or audit.

    ``n_iter=0`` (default) clusters on the seeded centroid pick — the
    oracle-reproducible configuration; pass ``n_iter>0`` for real Lloyd
    refinement in production (pytest-pinned equivalence, no SQL twin).

    Plan: row-local BLAS assignment (no shuffle) -> cell-keyed self-join (the
    one real shuffle, on the cell id) -> per-id map-side-combined witness
    aggregation -> id-keyed left join back. The pair stream is never
    distinct-ed or windowed.

    ``max_cell_size`` is the giant-cell defense (module docstring): a cell
    whose population exceeds it leaves the expression self-join (whose
    cell-keyed shuffle would put the whole cell's O(m²) cosine work in ONE
    task) and is instead salted into ``ceil(size/max_cell_size)`` blocks
    scanned per block-pair by a numpy/BLAS ``applyInPandas`` kernel. Same
    witness semantics; the kernel's float64 matmul can differ from the
    native fold in the last ulp on exactly-at-threshold pairs, so
    oracle-gated runs should keep cells under the limit (they do — the
    gate runs 500 docs / 8 cells). The kernel's output schema types
    ``id_col`` from the input schema — never a hardcoded long (string page
    ids are the production norm; a declared-long schema would make the
    union coerce and runtime-crash on them, the test_plan_hygiene.py:92
    lesson).

    ``assigned`` feeds up to five plan branches (the cell-size count, both
    join sides, the giant-cell kernel and the verdict join), so it is
    localCheckpointed and the k-means assignment runs once (same reason
    the jobs checkpoint their fan-out frames)."""
    if max_cell_size < 2:
        raise ValueError("max_cell_size must be >= 2")
    assigned = semdedup_assign(
        embeddings, n_cells, n_iter=n_iter, id_col=id_col,
        vec_col=vec_col, seed=seed,
    ).localCheckpoint()
    sizes = assigned.groupBy("cell").agg(F.count("*").alias("__cn"))
    tagged = assigned.join(F.broadcast(sizes), "cell")
    small = tagged.filter(F.col("__cn") <= max_cell_size)
    big = tagged.filter(F.col("__cn") > max_cell_size)
    left = small.select(
        F.col("cell"), F.col(id_col).alias("__id_a"), F.col(vec_col).alias("__va")
    )
    right = small.select(
        F.col("cell"), F.col(id_col).alias("__id_b"), F.col(vec_col).alias("__vb")
    )
    witnesses = (
        left.join(right, "cell")
        .filter(F.col("__id_b") < F.col("__id_a"))
        .filter(
            cosine_similarity("__va", "__vb") >= F.lit(float(threshold))
        )
        # collapse the pair stream map-side: one output row per dropped doc
        .groupBy(F.col("__id_a").alias(id_col))
        .agg(F.min("__id_b").alias("dup_witness"))
    )
    partials = _oversize_cell_witnesses(
        big, threshold, id_col, vec_col, max_cell_size
    )
    # a doc's cell is entirely small or entirely big, so the union only
    # re-minimizes the big path's per-block-pair partial witnesses; the
    # input is witness rows (≤ one per doc per block-pair), never pairs
    witnesses = (
        witnesses.unionByName(partials)
        .groupBy(id_col)
        .agg(F.min("dup_witness").alias("dup_witness"))
    )
    return (
        assigned.join(witnesses, id_col, "left")
        .withColumn("keep", F.col("dup_witness").isNull())
        .drop("dup_witness")
    )


def _oversize_cell_witnesses(
    big: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    block_target: int,
) -> DataFrame:
    """Partial duplicate witnesses for rows of OVERSIZED cells — the
    giant-cell half of :func:`semdedup`.

    ``big`` carries ``cell``/``id_col``/``vec_col``/``__cn`` (cell size).
    Rows are salted into ``ceil(__cn / block_target)`` hash blocks per
    cell, replicated to every (bi, bj) block-pair they participate in
    (factor = blocks-per-cell, the salted-triangle-join cost of any
    brute-force all-pairs scan), and one ``applyInPandas`` task per
    (cell, bi, bj) computes the cosine submatrix with a single BLAS
    matmul, emitting at most one ``(id, dup_witness)`` row per doc (its
    minimum smaller-id mate at >= threshold within the block pair) — so
    the post-kernel shuffle carries witness partials, never pairs.
    Zero-norm vectors score 0 against everything (guarded like
    make_ivf_assign_blas_udf's NaN trap)."""
    thr = float(threshold)
    base = big.select(
        "cell",
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.greatest(
            F.ceil(F.col("__cn") / F.lit(int(block_target))).cast("int"),
            F.lit(1),
        ).alias("__s"),
    ).withColumn(
        "__b",
        F.pmod(F.xxhash64(F.col("__id").cast("string")), F.col("__s")).cast("int"),
    )
    # block-pairs this row participates in: (i, __b) for i <= __b plus
    # (__b, j) for j > __b — exactly __s keys. __b/__s are materialized
    # attributes, so the transform lambdas touch nothing expensive (the
    # no-CSE-in-lambdas pitfall); sequence(__b+1, __s-1) is guarded
    # against the descending-step trap when __b is the last block.
    lo_keys = F.transform(
        F.sequence(F.lit(0), F.col("__b")),
        lambda i: F.struct(i.alias("bi"), F.col("__b").alias("bj")),
    )
    hi_keys = F.when(
        F.col("__b") + 1 <= F.col("__s") - 1,
        F.transform(
            F.sequence(F.col("__b") + 1, F.col("__s") - 1),
            lambda j: F.struct(F.col("__b").alias("bi"), j.alias("bj")),
        ),
    ).otherwise(F.array().cast("array<struct<bi:int,bj:int>>"))
    rep = base.select(
        "cell",
        "__id",
        "__v",
        "__b",
        F.explode_outer(F.concat(lo_keys, hi_keys)).alias("__k"),
    ).select(
        "cell",
        "__id",
        "__v",
        "__b",
        F.col("__k.bi").alias("__bi"),
        F.col("__k.bj").alias("__bj"),
    )

    id_ddl = big.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_ddl}, dup_witness {id_ddl}"
    id_dtype = (
        "int64"
        if id_ddl in ("long", "int", "bigint", "smallint", "tinyint")
        else "object"
    )

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {
                id_col: pd.Series([], dtype=id_dtype),
                "dup_witness": pd.Series([], dtype=id_dtype),
            }
        )

    def _mins(rid, cid, mask) -> pd.DataFrame:
        # per row r: min of {cid[c] : mask[r,c] and cid[c] < rid[r]}
        import numpy as np

        m = mask & (cid[None, :] < rid[:, None])
        if not m.any():
            return _empty()
        if np.issubdtype(rid.dtype, np.integer) and np.issubdtype(
            cid.dtype, np.integer
        ):
            sentinel = np.iinfo(np.int64).max
            cand = np.where(m, cid[None, :].astype(np.int64), sentinel)
            w = cand.min(axis=1)
            keep = w != sentinel
            return pd.DataFrame({id_col: rid[keep], "dup_witness": w[keep]})
        rows = [
            (rid[r], min(cid[m[r]]))
            for r in range(m.shape[0])
            if m[r].any()
        ]
        return pd.DataFrame(rows, columns=[id_col, "dup_witness"])

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(pdf) == 0:
            return _empty()
        bi = int(pdf["__bi"].iloc[0])
        bj = int(pdf["__bj"].iloc[0])
        a = pdf[pdf["__b"] == bi]
        if len(a) == 0:
            return _empty()
        ma = np.stack([np.asarray(x, dtype=np.float64) for x in a["__v"]])
        na = np.linalg.norm(ma, axis=1, keepdims=True)
        na[na == 0.0] = 1.0
        ma = ma / na
        ids_a = a["__id"].to_numpy()
        if bi == bj:
            sims = ma @ ma.T
            return _mins(ids_a, ids_a, sims >= thr)
        b = pdf[pdf["__b"] == bj]
        if len(b) == 0:
            return _empty()
        mb = np.stack([np.asarray(x, dtype=np.float64) for x in b["__v"]])
        nb = np.linalg.norm(mb, axis=1, keepdims=True)
        nb[nb == 0.0] = 1.0
        mb = mb / nb
        ids_b = b["__id"].to_numpy()
        sims = ma @ mb.T
        mask = sims >= thr
        out = pd.concat([_mins(ids_a, ids_b, mask), _mins(ids_b, ids_a, mask.T)])
        return out if len(out) else _empty()

    # Pin the kernel's shuffle width: a block-pair GROUP is the atomic unit
    # of BLAS work here, and AQE coalesces this exchange by bytes WRITTEN —
    # which on exactly the corpus this path exists for (near-duplicate mass
    # = highly repetitive vectors) lz4-compresses far below the advisory,
    # collapsing ~91 groups into a handful of giant tasks (measured: 9
    # tasks at 8 cores = 1.1 ragged waves, ~10 serial matmuls in the tail
    # task). REPARTITION_BY_NUM is AQE-exempt and HashPartitioning on the
    # full group key satisfies the applyInPandas ClusteredDistribution, so
    # no second exchange is inserted. 4x the session width keeps the
    # expected max groups-per-task near 1 without unbounded empty tasks.
    from ocr_spark.operators.curation import _pinned_partitions

    rep = rep.repartition(4 * _pinned_partitions(rep), "cell", "__bi", "__bj")
    return rep.groupBy("cell", "__bi", "__bj").applyInPandas(
        _block, schema=out_schema
    )


def semdedup_assign(
    embeddings: DataFrame,
    n_cells: int,
    n_iter: int = 0,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    seed: int = 0,
) -> DataFrame:
    """The clustering half of :func:`semdedup` (fit + assign), exposed for
    pipelines that persist assignments once and run several threshold
    sweeps over them."""
    cent_rows = kmeans_fit(
        embeddings, n_cells, n_iter=n_iter, id_col=id_col,
        vec_col=vec_col, seed=seed,
    )
    return assign_clusters(embeddings, cent_rows, vec_col=vec_col)
