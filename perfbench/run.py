#!/usr/bin/env python3
"""Job-level benchmark: runs the spark-submit jobs' ``main()`` in-process
over seeded generated inputs and reports docs/s and friends.

    python3 perfbench/run.py --workload extract_fused --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Everything the
run measured, the spans of a traced run included, goes to the detail file
``.perfbench/results/<workload>-s<seed>-t<trace>.json``.
``perfbench/README.md`` defines every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:] = [ROOT, os.path.join(ROOT, "jobs"), *(p for p in sys.path if os.path.abspath(p or ".") != HERE)]

# The jobs, ocr_spark and tests/oracle.py come from the checkout: outside one
# these imports fail and the run exits before printing a result.
from perfbench import checks, layers  # noqa: E402
from perfbench import inputs as bench_inputs  # noqa: E402
from perfbench.inputs import dir_bytes  # noqa: E402
from perfbench.tracing import RssSampler, SqlStore, Tracer, host_steal_s  # noqa: E402
from ocr_spark.session import get_spark  # noqa: E402

WORKLOADS = ("extract_fused", "curate_select_mix")
# curate_select_mix is smaller: its op costs ~30 s at any size, most of it
# select_job's driver-side plan build, and a run must end within three minutes
N_DOCS = {"extract_fused": 1000, "curate_select_mix": 500}
DRIVER_MEM = "2g"
MIN_TIMED_OPS = {"extract_fused": 3, "curate_select_mix": 1}
# extract_job ops speed up as the JIT compiles: ~10 s, then ~6.5, 6, 5.2 s
# and down to ~4.4 s after ~40 s of ops. A run has room for two warm-up
# ops; a fixed count keeps every run's timed ops at the same JIT stage.
EXTRACT_WARM_OPS = 2
# The VM shares its host: an op during which the hypervisor took more than
# this share of the machine's CPU time (steal) is disturbed. Timed ops go on
# until MIN_TIMED_OPS undisturbed ones, or until EXTRA_OPS_CAP x --seconds
# of op time; the figures come from the MIN_TIMED_OPS least-disturbed ops.
DISTURBED_STEAL = 0.05
EXTRA_OPS_CAP = 2.0
END_TO_END_UNITS = {"docs_per_s": "docs/s", "setup_s": "s", "write_amp": "ratio"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="timed ops continue until this much op time has passed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=0, help="generated input docs (0: the workload's default)")
    ap.add_argument("--max-ops", type=int, default=0, help="cap on timed ops (0: none)")
    ap.add_argument("--plant-corrupt-span", action="store_true",
                    help="self-test: corrupt one extracted span after each op")
    args = ap.parse_args(argv)
    args.docs = args.docs or N_DOCS[args.workload]
    return args


def _env(work: str) -> int:
    """Confine every file Spark and its workers write to ``work`` and make
    ``ocr_spark`` importable by the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    tempfile.tempdir = tmp
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        # the JVMs would otherwise write perf counters to /tmp/hsperfdata_<user>
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    return cpus


def _spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        # observation only: keep every execution in the status store and the
        # full scan path in plan descriptions
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.maxMetadataStringLength": "4096",
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes) and
    wait for it, so the run leaves no process behind."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _call_main(module, argv: list[str]) -> None:
    """Run a job's ``main()`` with its command line, stdout sent to stderr."""
    saved = sys.argv
    sys.argv = [module.__file__, *argv]
    try:
        with contextlib.redirect_stdout(sys.stderr):
            module.main()
    finally:
        sys.argv = saved


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class ExtractFused:
    """``extract_job`` in throughput mode (no flags, 768-dim embeddings)."""

    name = "extract_fused"

    def __init__(self, spark, inputs):
        import extract_job

        self.spark, self.inputs, self.job = spark, inputs, extract_job

    def input_bytes(self) -> int:
        return dir_bytes(self.inputs.docs)

    def warm(self, fresh_catalog) -> list[dict[str, float]]:
        walls = []
        for _ in range(EXTRACT_WARM_OPS):
            catalog = fresh_catalog()
            walls.append(self.op(catalog))
            shutil.rmtree(catalog, ignore_errors=True)
        return walls

    def op(self, catalog: str, extra: tuple[str, ...] = ()) -> dict[str, float]:
        t = time.perf_counter()
        _call_main(self.job, ["--input", self.inputs.docs, "--catalog", catalog, *extra])
        return {"extract_job": time.perf_counter() - t}

    def check(self, catalog: str, oracle: bool) -> tuple[list[str], dict]:
        digests = checks.digests(self.spark, catalog, checks.EXTRACT_TABLES)
        problems = checks.check_row_counts(digests, self.inputs.n_docs)
        if oracle:
            problems += checks.check_extracted(self.spark, self.inputs.docs, catalog)
        return problems, digests


class CurateSelectMix:
    """``curate_job``, then ``select_job --blocklist``, then ``mix_job``."""

    name = "curate_select_mix"

    def __init__(self, spark, inputs):
        import curate_job
        import mix_job
        import select_job

        self.spark, self.inputs = spark, inputs
        self.jobs = {"curate_job": curate_job, "select_job": select_job, "mix_job": mix_job}

    def input_bytes(self) -> int:
        return dir_bytes(self.inputs.text)

    def _argv(self, job: str, catalog: str) -> list[str]:
        i = self.inputs
        return {
            "curate_job": ["--input", i.text, "--catalog", catalog],
            "select_job": ["--input", i.text, "--target", i.target, "--catalog", catalog,
                           "--blocklist", i.blocklist],
            "mix_job": ["--input", i.text, "--benchmark", i.target, "--weights", i.weights,
                        "--catalog", catalog],
        }[job]

    def _run(self, catalog: str, jobs) -> dict[str, float]:
        walls = {}
        for job in jobs:
            t = time.perf_counter()
            _call_main(self.jobs[job], self._argv(job, catalog))
            walls[job] = time.perf_counter() - t
        return walls

    def warm(self, fresh_catalog) -> list[dict[str, float]]:
        # none: a run has room for one ~40 s op only, most of it select_job's
        # driver-side plan build, which a warm-up does not shorten
        return []

    def op(self, catalog: str) -> dict[str, float]:
        return self._run(catalog, ("curate_job", "select_job", "mix_job"))

    def check(self, catalog: str, oracle: bool) -> tuple[list[str], dict]:
        digests = checks.digests(self.spark, catalog, checks.CURATION_TABLES)
        return checks.check_curation(self.spark, catalog, digests, self.inputs.n_docs), digests


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

class Run:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.n_catalogs = 0
        self.problems: list[str] = []
        self.attempted = self.failed = 0
        self.detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                             "problems": self.problems}

    def fresh_catalog(self) -> str:
        self.n_catalogs += 1
        return os.path.join(self.work, f"catalog{self.n_catalogs}")

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += problems
            print(f"perfbench: op {self.attempted} failed: {problems[:3]}", file=sys.stderr)

    def execute(self) -> dict:
        args = self.args
        cpus = _env(self.work)
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                          extra_conf=_spark_conf(self.work))
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        try:
            return self.measure(spark, session_s)
        finally:
            _stop_spark(spark)

    def measure(self, spark, session_s: float) -> dict:
        args = self.args
        phases = self.detail["phases_s"] = {"session": session_s}

        t = time.perf_counter()
        if args.workload == "extract_fused":
            workload = ExtractFused(spark, bench_inputs.write_extract_inputs(
                spark, self.work, args.docs, args.seed))
        else:
            workload = CurateSelectMix(spark, bench_inputs.write_curation_inputs(
                spark, self.work, args.docs, args.seed))
        phases["inputs"] = time.perf_counter() - t
        in_bytes = workload.input_bytes()

        rss = RssSampler(spark._jvm.java.lang.ProcessHandle.current().pid())
        try:
            t = time.perf_counter()
            try:
                warm = workload.warm(self.fresh_catalog)
            except Exception as exc:  # a warm-up op that raises counts as failed
                self.record([f"warm-up: {type(exc).__name__}: {exc}"[:500]])
                warm = None
            phases["warm"] = time.perf_counter() - t
            ops = [] if warm is None else self.timed_ops(spark, workload, rss, in_bytes)
        finally:
            rss.close()
        if not ops:
            return {"correct": False, "attempted": self.attempted, "failed": self.failed, "metrics": {}}

        sampled = sorted(ops, key=lambda o: o["steal_share"])[:MIN_TIMED_OPS[args.workload]]
        # the first op's excess: what a spark-submit user, who runs the job
        # once per JVM, pays on top of a warm op
        warmup_excess = max(0.0, sum(warm[0].values()) - statistics.median(
            sum(o["parts"][k] for k in warm[0]) for o in sampled)) if warm else 0.0
        e2e = {
            "docs_per_s": args.docs / statistics.median(o["wall"] for o in sampled),
            "setup_s": session_s + warmup_excess,
            "write_amp": statistics.median(o["write_amp"] for o in ops),
        }
        peak_mb = statistics.median(o["peak_rss"] for o in ops) / 2**20
        self.detail.update({
            "docs": args.docs, "warm_s": warm, "warmup_excess_s": warmup_excess,
            "ops": ops, "sampled_ops": [ops.index(o) for o in sampled],
            "end_to_end": e2e, "peak_rss_mb": peak_mb,
            "ops_failed": self.failed / self.attempted,
        })
        if args.trace:
            per_layer = self.detail["per_layer"]
            per_layer.update({
                "session.get_spark.s": session_s,
                "warmup_excess_s": warmup_excess,
                "trace.docs_per_s": e2e["docs_per_s"],
                "spark.peak_rss_mb": peak_mb,
            })
            metrics, units = {k: per_layer.get(k, 0.0) for k in layers.UNITS}, layers.UNITS
        else:
            metrics, units = e2e, END_TO_END_UNITS
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": round(float(metrics[k]), 6), "unit": units[k]} for k in units},
        }

    def timed_ops(self, spark, workload, rss, in_bytes: int) -> list[dict]:
        """Timed ops into fresh catalogs until ``--seconds`` of op time.
        With ``--trace 1`` every op is traced."""
        args = self.args
        phases = self.detail["phases_s"]
        phases["ops"] = phases["checks"] = 0.0
        store = SqlStore(spark) if args.trace else None
        ops, digests, tracers = [], [], []
        while True:
            catalog = self.fresh_catalog()
            tracer = Tracer(store) if args.trace else None
            before = store.count() if store else 0
            if tracer:
                tracer.install()
            spark.sparkContext.setJobGroup(f"op{len(ops)}", workload.name)
            rss.sample(True)
            steal = host_steal_s()
            try:
                parts = workload.op(catalog)
            except Exception as exc:  # an op that raises counts as failed
                self.record([f"{type(exc).__name__}: {exc}"[:500]])
                break
            finally:
                rss.sample(False)
                if tracer:
                    tracer.uninstall()
            op = {"wall": sum(parts.values()), "parts": parts, "peak_rss": rss.peak,
                  "host_steal_s": host_steal_s() - steal}
            op["steal_share"] = op["host_steal_s"] / (op["wall"] * os.cpu_count())
            phases["ops"] += op["wall"]
            if tracer:
                tracers.append((tracer, catalog, store.since(before), f"op{len(ops)}"))
            if args.plant_corrupt_span:
                checks.plant_corrupt_span(spark, catalog)
            t = time.perf_counter()
            # later ops must reproduce the first op's digests, so the
            # oracle comparison runs on the first op only
            problems, digest = workload.check(catalog, oracle=not digests)
            if digests and digest != digests[0]:
                problems.append("table digests differ from the first op's")
            self.record(problems)
            digests.append(digest)
            op["write_amp"] = dir_bytes(catalog) / in_bytes
            if not tracer:
                shutil.rmtree(catalog, ignore_errors=True)
            phases["checks"] += time.perf_counter() - t
            ops.append(op)
            n_min = MIN_TIMED_OPS[workload.name]
            quiet = sum(o["steal_share"] <= DISTURBED_STEAL for o in ops)
            enough = len(ops) >= n_min and phases["ops"] >= args.seconds and (
                quiet >= n_min or phases["ops"] >= EXTRA_OPS_CAP * args.seconds)
            if enough or (args.max_ops and len(ops) >= args.max_ops):
                break
        if not ops:
            return ops
        self.detail["digests"] = digests[0]
        if tracers:
            t = time.perf_counter()
            self.detail["spans"] = [[vars(s) for s in tr.spans] for tr, *_ in tracers]
            self.detail["per_layer"] = layers.per_layer(self, spark, store, workload, tracers)
            phases["per_layer"] = time.perf_counter() - t
        return ops


def main(argv=None) -> int:
    args = parse_args(argv)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    detail = os.path.join(base, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    shutil.rmtree(work, ignore_errors=True)
    run = Run(args, work)
    try:
        result = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.dirname(detail), exist_ok=True)
        with open(detail, "w") as f:
            json.dump(run.detail, f, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
