"""Tracing for the job benchmark: spans around public calls, Spark's SQL
status store, and the resident memory of the Spark processes.

Everything here observes the program from outside. :class:`Tracer` swaps a
module's public functions for timing wrappers while a traced op runs and puts
the originals back afterwards; :class:`SqlStore` reads the per-node metrics
Spark keeps for each SQL execution (available with the UI off);
:class:`RssSampler` polls ``/proc`` for the JVM and its Python workers.
"""

from __future__ import annotations

import functools
import importlib
import os
import re
import sys
import threading
import time
from dataclasses import dataclass, field

# Public functions wrapped during a traced op, as (module, attribute). A
# dotted attribute is a method. Metric names start with the module's last
# name component: ``storage.Catalog.write``, ``embed.embed_text``.
WRAPPED = (
    ("ocr_spark.operators.extract", "extract_docs"),
    ("ocr_spark.functions.textnorm", "derive_question_id"),
    ("ocr_spark.plans.pipeline", "questions_from_extracted"),
    ("ocr_spark.operators.structure", "extract_problems"),
    ("ocr_spark.operators.embed", "embed_text"),
    ("ocr_spark.storage", "run_stage"),
    ("ocr_spark.storage", "Catalog.write"),
    ("ocr_spark.storage", "Catalog.completed_partitions"),
    ("ocr_spark.storage", "Catalog.append_manifest"),
    ("ocr_spark.operators.curation", "gopher_quality"),
    ("ocr_spark.operators.curation", "chunk_dedup"),
    ("ocr_spark.operators.curation", "repetition_stats"),
    ("ocr_spark.operators.curation", "token_entropy"),
    ("ocr_spark.operators.web", "blocklist_filter"),
    ("ocr_spark.operators.classify", "classifier_score"),
    ("ocr_spark.operators.dsir", "dsir_log_ratios"),
    ("ocr_spark.operators.dsir", "dsir_score"),
    ("ocr_spark.operators.dsir", "dsir_sample_fraction"),
    ("ocr_spark.operators.mixing", "decontaminate"),
    ("ocr_spark.operators.mixing", "weighted_sample"),
)

JOBS = ("extract_job", "curate_job", "select_job", "mix_job")


def layer_name(module: str, attr: str) -> str:
    """``ocr_spark.operators.embed``, ``embed_text`` -> ``embed.embed_text``."""
    return f"{module.rsplit('.', 1)[-1]}.{attr}"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    id: int = 0

    @property
    def s(self) -> float:
        return self.end - self.start


@dataclass
class Call:
    """One wrapped call whose lazy result can be re-executed in isolation."""

    name: str
    args: tuple
    kwargs: dict
    result: object
    span: Span
    executions: list[int]


@dataclass
class Tracer:
    """Span recorder. ``install`` patches every name bound to a wrapped
    function in any loaded ``ocr_spark`` module; ``uninstall`` restores them.
    Spans stay in memory until the run writes them out.

    Each call that returns a DataFrame is kept as a :class:`Call` with its
    arguments, its lazy result and the SQL executions it ran itself (some
    functions run Spark jobs inside the call, such as a model fit), so the
    run can re-execute the result alone afterwards. ``overhead_s`` is the
    time the wrappers spent outside the wrapped calls: what tracing adds to
    the op."""

    store: SqlStore
    spans: list[Span] = field(default_factory=list)
    calls: list[Call] = field(default_factory=list)
    stages: list[Call] = field(default_factory=list)
    files_written: int = 0
    overhead_s: float = 0.0
    active: bool = False
    _stack: list[int] = field(default_factory=list)
    _patches: list[tuple[object, str, object]] = field(default_factory=list)

    def open(self, name: str) -> Span:
        span = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                    id=len(self.spans))
        self.spans.append(span)
        self._stack.append(span.id)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()

    def _wrap(self, name: str, orig):
        tracer = self

        keep = not name.startswith(("storage.", "jobs."))

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            t0 = time.perf_counter()
            before = tracer.store.count() if keep else 0
            span = tracer.open(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.close(span)
            if name == "storage.Catalog.write":
                table = args[2] if len(args) > 2 else kwargs["name"]
                tracer.files_written += _parquet_files(args[0].path(table))
            elif name == "storage.run_stage":
                tracer.stages.append(Call(name, args, kwargs, out, span, []))
            elif keep and _is_dataframe(out):
                tracer.calls.append(Call(name, args, kwargs, out, span, tracer.store.since(before)))
            tracer.overhead_s += span.start - t0 + time.perf_counter() - span.end
            return out

        return wrapper

    def install(self) -> None:
        self.active = True
        for job in JOBS:
            if job in sys.modules:
                mod = sys.modules[job]
                self._patches.append((mod, "main", mod.main))
                mod.main = self._wrap(f"jobs.{job}", mod.main)
        for module, attr in WRAPPED:
            owner_name, _, fn_name = attr.rpartition(".")
            mod = importlib.import_module(module)
            owner = getattr(mod, owner_name) if owner_name else mod
            orig = getattr(owner, fn_name)
            wrapper = self._wrap(layer_name(module, attr), orig)
            targets = [owner] if owner_name else [
                m for m in list(sys.modules.values())
                if getattr(m, "__name__", "").startswith("ocr_spark")
                and getattr(m, fn_name, None) is orig
            ]
            for target in targets:
                self._patches.append((target, fn_name, orig))
                setattr(target, fn_name, wrapper)

    def uninstall(self) -> None:
        self.active = False
        for target, fn_name, orig in reversed(self._patches):
            setattr(target, fn_name, orig)
        self._patches.clear()


def _is_dataframe(obj) -> bool:
    return type(obj).__name__ == "DataFrame"


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, files in os.walk(path) for f in files)


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of it covered by its direct children."""
    kids = sorted((c.start, c.end) for c in spans if c.parent == span.id)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.s - covered


# ---------------------------------------------------------------------------
# SQL status store
# ---------------------------------------------------------------------------

_UNIT = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
    "h": 3600.0,
}
_VALUE = re.compile(r"([-\d.,]+)\s*([A-Za-zµ]*)")


def _number(text: str) -> float:
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


def metric_total(text: str) -> float:
    """Total of a status-store metric string, in bytes, seconds or units:
    ``'10.9 KiB'`` or ``'total (min, med, max ...)\\n12.5 KiB (3.1 KiB, ...)'``."""
    return _number(text.splitlines()[-1])


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, str]


class SqlStore:
    """Per-execution plan nodes and metric strings from the SQL status store."""

    def __init__(self, spark):
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def count(self) -> int:
        self.drain()
        return self._store.executionsCount()

    def since(self, offset: int) -> list[int]:
        """Execution ids recorded after ``offset`` executions."""
        n = self.count()
        if n <= offset:
            return []
        seq = self._store.executionsList(offset, n - offset)
        return [seq.apply(i).executionId() for i in range(seq.size())]

    def seconds(self, execution_id: int) -> float:
        """Wall time of one finished SQL execution."""
        e = self._store.execution(execution_id).get()
        return (e.completionTime().get().getTime() - e.submissionTime()) / 1000.0

    def nodes(self, execution_id: int) -> list[Node]:
        values = self._store.executionMetrics(execution_id)
        out = []
        it = self._store.planGraph(execution_id).allNodes().iterator()
        while it.hasNext():
            node = it.next()
            metrics = {}
            mit = node.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = v.get()
            out.append(Node(node.name(), node.desc(), metrics))
        return out


def sum_metric(nodes: list[Node], metric: str) -> float:
    return sum(metric_total(n.metrics[metric]) for n in nodes if metric in n.metrics)


# ---------------------------------------------------------------------------
# resident memory
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_bytes(pid)
        todo.extend(kids.get(pid, ()))
    return total


def host_steal_s() -> float:
    """CPU time the hypervisor has taken from this machine's CPUs since boot,
    summed over CPUs (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background poll of the JVM process tree's resident memory; ``peak``
    is the largest sum seen since sampling was last switched on."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(self.interval) and not self._stop.is_set():
                self.peak = max(self.peak, tree_rss(self.root_pid))
                time.sleep(self.interval)

    def sample(self, on: bool) -> None:
        if on:
            self.peak = tree_rss(self.root_pid)
            self._on.set()
        else:
            self._on.clear()

    def close(self) -> None:
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)
