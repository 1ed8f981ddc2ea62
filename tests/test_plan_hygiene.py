"""Plan-hygiene regression tests: scans must stay pruned and pushed down.

These pin the physical-plan properties the 100 TB design depends on; a
refactor that silently widens a scan or adds a shuffle fails here, not in a
benchmark three rounds later.
"""

from __future__ import annotations

import ast
import os
import re

import __spark_entry__ as entry_mod
from tests.plan_util import plan_text

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Public engine names that no gate, job, scaling leg, script or other
# engine code calls; each has a COVERAGE.md row saying it has no gate or
# job caller.
PUBLIC_WITHOUT_CALLER = {
    "report_from_head_tail", "plan_visual_grid", "render_visual_grid",
    "generate_docs_pandas", "oracle_embedding", "questions_by_tag",
    "enrich_tags", "dedupe_tags", "embed_multimodal", "sample_frames",
    "salted_join", "read_jsonl", "split_corrupt", "scan_binary_files",
    "read_wet",
}


def _plan(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF_DIR)
    return plan_text(df, "formatted")


def _identifiers(nodes) -> set[str]:
    """Names, attributes and imported names used in the code of the given
    AST nodes (comments and docstrings do not count)."""
    out = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name)
    return out


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read())


def _scaling_leg_identifiers() -> set[str]:
    """Identifiers in the source of ``scripts/bench_scaling.py``'s worker,
    which it keeps as the string ``_WORKER`` and runs in a subprocess."""
    tree = _parse(os.path.join(ROOT, "scripts", "bench_scaling.py"))
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "_WORKER" for t in node.targets
        ):
            return _identifiers([ast.parse(node.value.value.format(repo=""))])
    raise AssertionError("scripts/bench_scaling.py has no _WORKER source")


def test_public_api_has_a_non_test_caller():
    """Every public (no leading underscore) module-level function or class
    in ``ocr_spark`` is referenced by non-test code outside its own
    definition: a job, ``__spark_entry__``, ``bench.py``, a script, the
    scaling legs' worker source or engine code (its own module included).
    The names that are not are exactly PUBLIC_WITHOUT_CALLER, each with a
    COVERAGE.md row that says so."""
    callers = [os.path.join(ROOT, f) for f in ("__spark_entry__.py", "bench.py")]
    for d in ("jobs", "scripts", "ocr_spark"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, d)):
            callers += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    trees = {p: _parse(p) for p in callers}
    # one identifier set per top-level statement, so a definition's own
    # body can be left out of its own callers
    stmts = [(node, _identifiers([node])) for t in trees.values() for node in t.body]
    leg_ids = _scaling_leg_identifiers()
    engine = os.path.join(ROOT, "ocr_spark")
    uncalled = set()
    for path, tree in trees.items():
        if not path.startswith(engine + os.sep):
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                continue
            name = node.name
            if name.startswith("_") or name in leg_ids:
                continue
            if not any(name in ids for other, ids in stmts if other is not node):
                uncalled.add(name)
    assert uncalled == PUBLIC_WITHOUT_CALLER

    with open(os.path.join(ROOT, "COVERAGE.md"), encoding="utf-8") as f:
        rows = [line for line in f if "no gate or job caller" in line]
    for name in PUBLIC_WITHOUT_CALLER:
        assert any(re.search(rf"\b{name}\b", row) for row in rows), name


def _is_table_read(node, tables: set[str]) -> bool:
    """Whether an expression is a ``catalog.read(...)`` result: the call
    itself, a method chain on it, or a name bound to one."""
    while isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        f = node.func
        if f.attr == "read" and isinstance(f.value, ast.Name) and f.value.id == "catalog":
            return True
        node = f.value
    return isinstance(node, ast.Name) and node.id in tables


def _table_count_calls(tree: ast.Module) -> list[int]:
    """Line numbers of ``.count()`` calls on a ``catalog.read(...)`` result."""
    tables = {
        t.id
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign) and _is_table_read(node.value, set())
        for t in node.targets
        if isinstance(t, ast.Name)
    }
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        and node.func.attr == "count" and not node.args
        and _is_table_read(node.func.value, tables)
    ]


def test_jobs_never_count_a_table_they_read():
    """Row counts come from the writes (``Catalog.write`` returns the rows
    it wrote, ``run_pipeline*`` return ``{table: rows}``): no job re-reads
    a catalog table to ``count()`` it."""
    planted = ast.parse(
        "n = catalog.read(name).count()\n"
        "t = catalog.read('x').select('a')\n"
        "m = t.count()\n"
        "k = catalog.read('x').groupBy('a').agg(F.count('*'))\n"
    )
    assert _table_count_calls(planted) == [1, 3]
    jobs = os.path.join(ROOT, "jobs")
    found = {
        f: lines
        for f in sorted(os.listdir(jobs))
        if f.endswith(".py") and (lines := _table_count_calls(_parse(os.path.join(jobs, f))))
    }
    assert not found


_SEQUENCE_NODES = (ast.List, ast.Tuple, ast.ListComp)


def _lit_of_sequence_calls(tree: ast.Module) -> list[int]:
    """Line numbers of ``F.lit(<list, tuple or comprehension>)`` (or a bare
    ``lit(...)``): on pyspark 4 that is one py4j call per element."""
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and (getattr(node.func, "attr", None) == "lit" or getattr(node.func, "id", None) == "lit")
        and node.args and isinstance(node.args[0], _SEQUENCE_NODES)
    ]


def test_no_lit_of_a_python_sequence():
    """Constant arrays go through ``double_array_literal`` (one string
    literal, constant-folded), never ``F.lit(list)``: the classifier's
    65,536 weights cost ~30 s of driver time that way."""
    planted = ast.parse(
        "a = F.lit([1.0, 2.0])\n"
        "b = F.lit((0.5,))\n"
        "c = lit([float(w) for w in ws])\n"
        "d = F.lit((1 << 3) - 1)\n"
        "e = F.lit(x)\n"
        "f = F.array(*[F.lit(q) for q in qs])\n"
    )
    assert _lit_of_sequence_calls(planted) == [1, 2, 3]
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for d in ("ocr_spark", "jobs"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, d)):
            paths += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    found = {
        os.path.relpath(p, ROOT): lines
        for p in sorted(paths)
        if (lines := _lit_of_sequence_calls(_parse(p)))
    }
    assert not found


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # PushedFilters
    plan = _plan(spark, "recent_events")
    assert "LessThan(user_id,10)" in plan


def test_column_pruning(spark):
    plan = _plan(spark, "token_stats")
    # 2-column projection over a 5-column table: scan must read only those
    assert "struct<doc_id:bigint,text:string>" in plan
    assert "lang" not in plan.split("ReadSchema:")[1].splitlines()[0]


def test_dim_joins_broadcast(spark):
    plan = _plan(spark, "topk_orders")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_narrow_queries_have_no_exchange(spark):
    for name in ("t4_math_rewrite", "t6_layout", "token_stats", "quality_score"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, f"{name} gained a shuffle:\n{plan[:1500]}"


def test_topk_plans_as_take_ordered(spark):
    plan = _plan(spark, "topk_orders")
    assert "TakeOrderedAndProject" in plan  # no global sort for ORDER BY+LIMIT


def test_head_tail_has_no_global_window(spark):
    """head/tail slices must plan as TakeOrderedAndProject heaps, never as
    un-partitioned row_number windows (global single-task sorts)."""
    plan = _plan(spark, "head_tail")
    assert "Window" not in plan, plan[:1500]
    assert "TakeOrderedAndProject" in plan


def test_extreme_pair_has_no_cartesian(spark):
    """most/least-similar pair must route through the blocked-matmul path —
    no per-pair expression cartesian."""
    plan = _plan(spark, "extreme_pair")
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "FlatMapGroupsInPandas" in plan  # the blocked matmul stage


def test_ivf_centroid_pick_is_take_ordered(spark):
    """The IVF coarse-quantizer sample must not globally sort the corpus:
    orderBy(lcg_key).limit(k) plans as TakeOrderedAndProject with no
    single-partition Exchange and no Window."""
    from ocr_spark.operators.similarity import ivf_centroid_pick

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumnRenamed(
        "vec_id", "doc_id"
    )
    df = ivf_centroid_pick(emb, 16)
    plan = plan_text(df, "formatted")
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan, plan[:1500]


def test_ivf_centroid_pick_accepts_string_ids(spark):
    """A string id column must not crash the LCG key (ANSI CAST_INVALID_INPUT
    at scale: the r4 semdedup protocol leg fed doc_id='R03_page_…' and died
    in the cast at similarity.py's centroid pick) — string ids fold through
    a bounded xxhash64 instead, same TakeOrderedAndProject shape, and the
    pick stays deterministic across partition layouts."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.similarity import ivf_centroid_pick

    emb = spark.range(500).select(
        F.concat(F.lit("R03_page_"), F.col("id").cast("string")).alias("doc_id"),
        F.array(F.sin("id"), F.cos("id")).alias("embedding"),
    )
    df = ivf_centroid_pick(emb, 8)
    plan = plan_text(df, "formatted")
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    picked = sorted(r["__cid"] for r in df.collect())
    repicked = sorted(
        r["__cid"] for r in ivf_centroid_pick(emb.repartition(7), 8).collect()
    )
    assert picked == repicked
    assert len(picked) == 8


def test_north_rule_ops_have_no_single_partition_exchange(spark):
    """boilerplate / layout / pdf plans must never funnel through one task:
    all their windows are partitioned and all shuffles are keyed."""
    for name in ("html_boilerplate", "layout_regions", "reading_order", "pdf_pages"):
        plan = _plan(spark, name)
        assert "Exchange SinglePartition" not in plan, f"{name}:\n{plan[:1500]}"


def test_allpairs_gate_routes_through_blocked_matmul(spark):
    """The label-counts gate must use the blocked-BLAS pair source (one
    matmul per block-pair task), not the per-pair expression cross join."""
    plan = _plan(spark, "allpairs_label_counts")
    assert "FlatMapGroupsInPandas" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]


def test_media_meta_is_python_free(spark):
    """The metadata-only media query must stay on the native byte-stat path:
    no Arrow/Python stage may ship multi-KB blobs out of the JVM (the r1
    two-UDF version was 52% of the whole bench)."""
    plan = _plan(spark, "media_meta")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan[:1500]
    assert "Exchange" not in plan  # narrow projection, no shuffle either

def test_ivf_probe_explode_has_no_inferred_filter(spark):
    """The probed-cells explode must not carry the optimizer's inferred
    size()>0 filter: pushdown re-substitutes the full centroid-scoring fold
    (lambdas re-inlined — no CSE there) below the projection, doubling the
    O(n_cells × dim) work per query row. explode_outer on the provably
    non-empty __cells array generates no such filter, and the Generate must
    consume __cells as a materialized attribute, not an inlined expression."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.similarity import ivf_topk_per_query

    rows = [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    qs = spark.createDataFrame(rows[:3], "query_id long, query_vec array<double>")
    df = ivf_topk_per_query(emb, qs, n_cells=4, n_probe=2, k=3)
    plan = plan_text(df, "optimized")
    for line in plan.splitlines():
        if line.strip().lstrip("+-: ").startswith("Filter"):
            assert "lambdafunction" not in line, line[:500]
    gens = [l for l in plan.splitlines() if "Generate explode" in l]
    assert gens, plan[:1500]
    for g in gens:
        assert "true" in g.split("],", 1)[-1] or ", true," in g, g  # outer
        assert "lambdafunction" not in g, g[:500]


def test_simhash_pair_stream_never_shuffles(spark):
    """Cross-index duplicate pairs are removed by the canonical-index
    filter (pidx == first equal block pair — a per-row predicate), NOT by
    dropDuplicates([id_a, id_b]): that distinct's exchange shuffles the
    full candidate-pair stream, the largest dataset in the job on a
    self-similar corpus (measured 135 s -> ~105 s at 8 cores on 500k docs
    when eliminated). No aggregate or exchange may key on the pair ids,
    neither in the gate nor in the operator at the scaling leg's settings."""
    from ocr_spark.operators.dedup import simhash_dup_pairs

    plan = _plan(spark, "simhash_dups")
    assert "HashAggregate(keys=[id_a" not in plan, plan[:2000]
    assert "hashpartitioning(id_a" not in plan, plan[:2000]

    rows = [(i, f"some words repeated {i % 7} across documents {i % 3}")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    df = simhash_dup_pairs(docs, max_hamming=3, n_blocks=8)
    p = plan_text(df)
    assert "HashAggregate(keys=[id_a" not in p, p[:2000]
    assert "hashpartitioning(id_a" not in p, p[:2000]


def test_ann_candidate_stream_never_distincts(spark):
    """Both ANN consumers of band_buckets use the canonical-band filter;
    no aggregate may key on the candidate ids (the old dropDuplicates
    shuffled every candidate WITH its carried embedding vectors). The
    per-query ranking window legitimately exchanges on __qid alone."""
    from ocr_spark.operators.similarity import ann_topk_per_query, lsh_bucket_pairs

    rows = [(i, [float((i * 7 + j) % 13) for j in range(16)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    qdf = spark.createDataFrame(rows[:3], "query_id long, query_vec array<double>")
    p1 = plan_text(ann_topk_per_query(emb, qdf, dim=16, k=5))
    assert "HashAggregate(keys=[__qid" not in p1, p1[:2000]
    p2 = plan_text(lsh_bucket_pairs(emb, dim=16))
    assert "HashAggregate(keys=[id_a" not in p2, p2[:2000]
    assert "hashpartitioning(id_a" not in p2, p2[:2000]


def test_curation_ops_plan_shape(spark):
    """The curation family keeps its designed shuffle budget: ONE doc-pinned
    repartition for repetition_stats/token_entropy (every later groupBy is
    partition-local), the min-struct keeper + winners rebuild + totals join
    for chunk_dedup, and NO inferred size()>0 filter re-substituting the
    words split below an explode (the with_shingles lesson — curation
    materializes arrays and explodes with posexplode_outer)."""
    from ocr_spark.operators.curation import (
        chunk_dedup,
        gopher_quality,
        repetition_stats,
        token_entropy,
    )

    rows = [(i, f"alpha beta gamma {i % 5} delta beta") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for op, budget in ((repetition_stats, 1), (token_entropy, 1), (chunk_dedup, 5)):
        p = plan_text(op(docs))
        assert p.count("Exchange") <= budget, (op.__name__, p[:2000])
        bad = [l for l in p.splitlines() if "Filter" in l and "split(" in l]
        assert not bad, (op.__name__, bad[:2])
    # chunk_dedup's keeper must stay a map-side-combined aggregate — a
    # Window partitioned by the chunk text puts every copy of a duplicated
    # chunk in ONE task (measured 0.13 N->4N efficiency on a self-similar
    # corpus before the rewrite)
    p = plan_text(chunk_dedup(docs))
    assert "Window" not in p, p[:2000]
    # gopher_quality is row-local: zero exchanges, one codegen projection
    p = plan_text(gopher_quality(docs))
    assert "Exchange" not in p, p[:2000]


def test_dedup_lines_gate_has_no_reinlined_split(spark):
    """q_dedup_lines synthesizes 2-word lines inside an F.transform lambda;
    the words array must be a materialized COLUMN there — referencing the
    words_column expression directly re-inlines the full regexp split per
    line (O(W^2)/doc, the lambda-CSE pitfall; caught by the r3 review)."""
    plan = _plan(spark, "dedup_lines")
    bad = [l for l in plan.splitlines() if "lambdafunction" in l and "split(" in l]
    assert not bad, bad[:2]
