"""Per-layer metrics of a traced run.

Span metrics (``s``, ``plan_s``, ``self_s``) are medians over the timed ops.
``plan_s`` is the wall time of a public call: Spark is lazy, so for most
functions it is driver-side plan construction, plus any Spark job the
function runs inside the call. ``exec_s`` re-executes the call's result
into a ``noop`` sink after caching its DataFrame inputs, so it covers the
function's own work only, plus the Spark jobs the call ran itself. The byte
counts come from the SQL status store nodes of those executions.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from perfbench import checks
from perfbench.tracing import Node, Tracer, self_time, sum_metric

CHECKPOINT_PARTITIONS = 64
_S, _B = "s", "B"
_CALLS = {
    "extract.extract_docs": ("plan_s", "exec_s"),
    "textnorm.derive_question_id": ("plan_s",),
    "pipeline.questions_from_extracted": ("plan_s", "exec_s"),
    "structure.extract_problems": ("plan_s", "exec_s", "shuffle_bytes", "spill_bytes"),
    "embed.embed_text": ("plan_s", "exec_s", "py_bytes"),
    "web.blocklist_filter": ("plan_s", "exec_s"),
    "classify.classifier_score": ("plan_s", "exec_s"),
    "dsir.dsir_log_ratios": ("plan_s", "exec_s", "shuffle_bytes"),
    "dsir.dsir_score": ("plan_s", "exec_s"),
    "dsir.dsir_sample_fraction": ("plan_s", "exec_s"),
    **{f"curation.{f}": ("plan_s", "exec_s", "shuffle_bytes", "spill_bytes")
       for f in ("gopher_quality", "chunk_dedup", "repetition_stats", "token_entropy")},
    **{f"mixing.{f}": ("plan_s", "exec_s", "shuffle_bytes")
       for f in ("decontaminate", "weighted_sample")},
}

# Every per-layer metric, in output order, with its unit. A metric a
# workload does not exercise reads 0.
UNITS: dict[str, str] = {
    "session.get_spark.s": _S,
    "warmup_excess_s": _S,
    **{f"jobs.{j}.self_s": _S for j in ("extract_job", "curate_job", "select_job", "mix_job")},
    "spark.tasks_failed": "count",
    "spark.peak_rss_mb": "MB",
    "trace.docs_per_s": "docs/s",
    "trace.overhead_s": _S,
    "scan.docs_passes": "passes",
    "extract.extract_docs.task_max_med": "ratio",
    "textnorm.apply_math_patterns.exec_s": _S,
    **{f"{c}.{m}": (_B if m.endswith("bytes") else _S) for c, ms in _CALLS.items() for m in ms},
    "storage.Catalog.write.s": _S,
    "storage.Catalog.write.files": "count",
    "storage.run_stage.s": _S,
    "storage.run_stage.overhead_s": _S,
    "storage.Catalog.completed_partitions.s": _S,
    "storage.Catalog.append_manifest.s": _S,
    "scan.docs_passes.checkpointed": "passes",
    "scan.docs_passes.resume": "passes",
    "jobs.extract_job.checkpointed_s": _S,
    "jobs.extract_job.resume_s": _S,
}

_STORAGE_SPANS = ("storage.Catalog.write", "storage.run_stage",
                  "storage.Catalog.completed_partitions", "storage.Catalog.append_manifest")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _nodes(store, ids) -> list[Node]:
    return [n for e in ids for n in store.nodes(e)]


def docs_scans(store, ids, docs_path: str) -> list[tuple[str, float]]:
    """(root plan node, docs rows scanned) per SQL execution of the op that
    scanned the docs table."""
    where = f"[file:{docs_path}]"
    out = []
    for e in ids:
        nodes = store.nodes(e)
        scans = [n for n in nodes if n.name.startswith("Scan parquet") and where in n.desc]
        if scans:
            out.append((nodes[0].desc[:200], sum_metric(scans, "number of output rows")))
    return out


def tasks_failed(spark, group: str) -> int:
    tracker = spark.sparkContext.statusTracker()
    failed = 0
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            s = tracker.getStageInfo(stage)
            failed += s.numFailedTasks if s else 0
    return failed


def span_metrics(tracer) -> dict[str, float]:
    """One op's span sums: ``plan_s`` per public call, ``s`` per storage
    call, ``self_s`` per job."""
    out: dict[str, float] = {}
    for span in tracer.spans:
        if span.name.startswith("jobs."):
            key, value = f"{span.name}.self_s", self_time(span, tracer.spans)
        elif span.name in _STORAGE_SPANS:
            key, value = f"{span.name}.s", span.s
        else:
            key, value = f"{span.name}.plan_s", span.s
        out[key] = out.get(key, 0.0) + value
    out["storage.Catalog.write.files"] = tracer.files_written
    out["trace.overhead_s"] = tracer.overhead_s
    return out


def task_seconds(spark, group: str) -> list[float]:
    """Durations of every task the job group ran."""
    tracker = spark.sparkContext.statusTracker()
    app = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            s = tracker.getStageInfo(stage)
            tasks = app.taskList(stage, s.currentAttemptId, 1 << 30) if s else None
            for i in range(tasks.size() if tasks else 0):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    out.append(d.get() / 1000.0)
    return out


def exec_metrics(spark, store, calls) -> dict[str, float]:
    """Re-execute each call's result on cached inputs (see module doc)."""
    out: dict[str, float] = {}
    for i, call in enumerate(calls):
        inputs = [a for a in (*call.args, *call.kwargs.values()) if type(a).__name__ == "DataFrame"]
        for df in inputs:
            df.cache().count()
        offset = store.count()
        spark.sparkContext.setJobGroup(f"exec{i}", call.name)
        t = time.perf_counter()
        _noop(call.result)
        noop_s = time.perf_counter() - t
        nodes = _nodes(store, [*store.since(offset), *call.executions])
        for df in inputs:
            df.unpersist()
        got = {
            "exec_s": noop_s + sum(store.seconds(e) for e in call.executions),
            "shuffle_bytes": sum_metric(nodes, "shuffle bytes written"),
            "spill_bytes": sum_metric(nodes, "spill size"),
            "py_bytes": sum_metric(nodes, "data sent to Python workers")
            + sum_metric(nodes, "data returned from Python workers"),
        }
        if call.name == "extract.extract_docs":
            tasks = task_seconds(spark, f"exec{i}")
            got["task_max_med"] = max(tasks) / max(statistics.median(tasks), 1e-3)
        for k, v in got.items():
            out[f"{call.name}.{k}"] = out.get(f"{call.name}.{k}", 0.0) + v
    return out


def textnorm_exec(spark, docs_path: str) -> float:
    """The math rewrite over every span text of the cached input."""
    from ocr_spark.functions.textnorm import apply_math_patterns

    texts = spark.read.parquet(docs_path).select(F.explode("spans.text").alias("text")).cache()
    texts.count()
    t = time.perf_counter()
    _noop(texts.select(apply_math_patterns("text")))
    out = time.perf_counter() - t
    texts.unpersist()
    return out


def stage_overhead(spark, stages, scratch: str) -> float:
    """Checkpointed stage spans minus the isolated transform-plus-write
    time of each stage's input (plain parquet, no buckets or manifest)."""
    total = 0.0
    for i, call in enumerate(stages):
        input_df = call.args[2] if len(call.args) > 2 else call.kwargs["input_df"]
        transform = call.args[3] if len(call.args) > 3 else call.kwargs["transform"]
        cached = input_df.cache()
        cached.count()
        path = os.path.join(scratch, f"stage{i}")
        t = time.perf_counter()
        transform(cached).write.mode("overwrite").parquet(path)
        total += call.span.s - (time.perf_counter() - t)
        cached.unpersist()
        shutil.rmtree(path, ignore_errors=True)
    return total


def per_layer(run, spark, store, workload, tracers) -> dict[str, float]:
    """Per-layer metrics from the traced timed ops, plus, for the extract
    workload, one checkpointed op and its re-run on the completed catalog."""
    phases = run.detail["phases_s"]
    per_op = [span_metrics(t) for t, *_ in tracers]
    out = {k: statistics.median(m.get(k, 0.0) for m in per_op) for k in set().union(*per_op)}
    last, fused_catalog, ids, _ = tracers[-1]
    t = time.perf_counter()
    out.update(exec_metrics(spark, store, last.calls))
    phases["exec_metrics"] = time.perf_counter() - t
    out["spark.tasks_failed"] = sum(tasks_failed(spark, group) for *_, group in tracers)
    if workload.name == "extract_fused":
        docs = workload.inputs.docs
        scans = docs_scans(store, ids, docs)
        run.detail["docs_scans"] = {"fused": scans}
        out["scan.docs_passes"] = sum(rows for _, rows in scans) / workload.inputs.n_docs
        t = time.perf_counter()
        out["textnorm.apply_math_patterns.exec_s"] = textnorm_exec(spark, docs)
        phases["textnorm_exec"] = time.perf_counter() - t
        ck = checkpointed(run, spark, store, workload, fused_catalog)
        out["spark.tasks_failed"] += ck.pop("spark.tasks_failed")
        out.update(ck)
    return out


def checkpointed(run, spark, store, workload, fused_catalog: str) -> dict[str, float]:
    """``extract_job --checkpointed`` into a fresh catalog, then again on
    the completed catalog. Both must reproduce the fused op's tables, and
    the re-run must leave the tables and the manifest unchanged."""
    n_docs = workload.inputs.n_docs
    fused = checks.digests(spark, fused_catalog, checks.EXTRACT_TABLES)
    catalog = run.fresh_catalog()
    manifest = os.path.join(catalog, "__manifest__")
    phases = run.detail["phases_s"]
    out: dict[str, float] = {"spark.tasks_failed": 0}
    for phase in ("checkpointed", "resume"):
        tracer = Tracer(store)
        offset = store.count()
        group = f"op{run.attempted}-{phase}"
        spark.sparkContext.setJobGroup(group, phase)
        tracer.install()
        try:
            wall = workload.op(catalog, ("--checkpointed", "--n-partitions", str(CHECKPOINT_PARTITIONS)))
        except Exception as exc:  # an op that raises counts as failed
            run.record([f"{phase}: {type(exc).__name__}: {exc}"[:500]])
            wall = None
        finally:
            tracer.uninstall()
        out["spark.tasks_failed"] += tasks_failed(spark, group)
        if wall is None:
            break
        t = time.perf_counter()
        got = checks.digests(spark, catalog, checks.EXTRACT_TABLES)
        n_manifest = spark.read.parquet(manifest).count()
        problems = [f"{phase}: {name} differs from the fused op" for name in got if got[name] != fused[name]]
        if phase == "resume" and n_manifest != out["manifest_rows"]:
            problems.append(f"resume changed the manifest: {out['manifest_rows']} -> {n_manifest} rows")
        run.record(problems)
        out["manifest_rows"] = n_manifest
        out[f"jobs.extract_job.{phase}_s"] = phases[phase] = wall["extract_job"]
        scans = docs_scans(store, store.since(offset), workload.inputs.docs)
        run.detail["docs_scans"][phase] = scans
        out[f"scan.docs_passes.{phase}"] = sum(rows for _, rows in scans) / n_docs
        run.detail.setdefault("spans", []).append([vars(s) for s in tracer.spans])
        phases[f"{phase}_checks"] = time.perf_counter() - t
        if phase == "checkpointed":
            t = time.perf_counter()
            spans = span_metrics(tracer)
            for k in ("storage.run_stage.s", "storage.Catalog.completed_partitions.s",
                      "storage.Catalog.append_manifest.s"):
                out[k] = spans.get(k, 0.0)
            out["storage.run_stage.overhead_s"] = stage_overhead(
                spark, tracer.stages, os.path.join(run.work, "isolated"))
            phases["stage_overhead"] = time.perf_counter() - t
    return out
