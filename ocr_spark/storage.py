"""Storage layer: table catalog, snapshots, checkpoint manifest (M4).

Logical contract = Iceberg (overwrite commits, snapshots, resume); physical
implementation here = plain parquet directories, because no Iceberg runtime
jar can be fetched in the sandbox (SURVEY §7.0). This module is the single
swap point: on a real cluster, replace ``Catalog`` internals with
``df.writeTo(...).using("iceberg")`` overwrites and the manifest
with Iceberg snapshot metadata — every operator and pipeline above this layer
is unchanged.

Capabilities mirrored from the reference:

* UPSERT idempotency (re-import updates the row; reference
  src/markdown_importer.py:202-210, src/embed_importer.py:276-289) → every
  sink overwrites whole: :meth:`Catalog.write` replaces a table (the fused
  ``run_pipeline`` and the curate/select/mix jobs) and :func:`run_stage`
  replaces its stage table in one static overwrite, so a re-run replaces
  rows, never adds them.
* Stage skipping / resume from any stage — /root/reference/run_pipeline.sh:52-64
  → the manifest: a stage run is the commit and resume unit, and a stage
  with completed manifest rows is skipped whole, so a re-run at another
  bucket count is a no-op. ``__pid`` buckets are the table layout and the
  metric grain, not the resume unit.
* Per-item error isolation with success/failure counters —
  /root/reference/src/markdown_importer.py:216-219,234-272 → error-split
  writes + rows_in/rows_out/errors metrics per partition (north_rule),
  counted by observations during the writes: no sink re-reads to count.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark.schema import MANIFEST_SCHEMA

MANIFEST_TABLE = "__manifest__"

# Concurrent stages (plans/pipeline writes its derived stages from one thread
# each) append to one manifest directory, and two appends to one parquet
# directory share its ``_temporary`` dir: the first job to commit deletes it
# under the other. So the process appends one at a time.
_MANIFEST_APPEND = threading.Lock()


class Catalog:
    """A directory of parquet tables: overwrite, snapshot/restore, and the
    stage manifest."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        """Resolve a table name under the catalog root. Names may contain
        ``/`` (internal nested layouts like ``__snapshots__/<table>/<snap>``)
        but can never escape the root: absolute paths, backslashes, and
        empty / ``.`` / ``..`` components are rejected. Validating HERE
        covers every entry point (read/write/snapshot/restore)
        — the r2 advisor fix only guarded snapshot_name, leaving the table
        name on the same f-string line as a traversal vector."""
        if (
            not name
            or name.startswith("/")
            or "\\" in name
            or any(part in ("", ".", "..") for part in name.split("/"))
        ):
            raise ValueError(
                f"invalid table name {name!r}: must be a relative path with "
                "no empty, '.' or '..' components"
            )
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        p = self.path(name)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" or os.path.isdir(os.path.join(p, f))
            for f in os.listdir(p)
        )

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def write(self, df: DataFrame, name: str) -> int:
        """Overwrite table ``name`` with ``df``; returns the rows written,
        counted during the write."""
        seen = Observation()
        df.observe(seen, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(
            self.path(name)
        )
        return seen.get["rows"]

    # ------------------------------------------------------------------
    # snapshots (S11 — reference pg_dump/restore, README.md:244-254)
    # ------------------------------------------------------------------
    def _partition_cols(self, name: str) -> list[str]:
        """Hive-style partition columns of a table directory (top-level
        ``col=value`` subdirs), e.g. ``__pid`` for :func:`run_stage` tables."""
        p = self.path(name)
        if not os.path.isdir(p):
            return []
        cols = []
        for entry in os.listdir(p):
            if os.path.isdir(os.path.join(p, entry)) and "=" in entry:
                col = entry.split("=", 1)[0]
                if col not in cols:
                    cols.append(col)
        return cols

    @staticmethod
    def _check_snapshot_name(snapshot_name: str) -> None:
        """Snapshot names become path components: reject separators and
        traversal so a name can never escape the ``__snapshots__`` tree."""
        if (
            not snapshot_name
            or "/" in snapshot_name
            or "\\" in snapshot_name
            or snapshot_name in (".", "..")
        ):
            raise ValueError(
                f"invalid snapshot name {snapshot_name!r}: must be a single "
                "non-empty path component (no '/', '\\', '.' or '..')"
            )

    def snapshot(self, name: str, snapshot_name: str) -> str:
        """CTAS-style snapshot of a table's CURRENT contents, PRESERVING its
        partition layout (a ``__pid``-bucketed stage table restores with
        its ``{stage}/__pid=p`` layout). Re-snapshotting
        the same name overwrites (idempotent). On Iceberg this becomes a
        zero-copy tag/branch; here it is a parquet copy through Spark."""
        self._check_snapshot_name(snapshot_name)
        snap = f"__snapshots__/{name}/{snapshot_name}"
        os.makedirs(os.path.dirname(self.path(snap)), exist_ok=True)
        w = self.read(name).write.mode("overwrite")
        parts = self._partition_cols(name)
        if parts:
            w = w.partitionBy(*parts)
        w.parquet(self.path(snap))
        return snap

    def list_snapshots(self, name: str) -> list[str]:
        d = self.path(f"__snapshots__/{name}")
        if not os.path.isdir(d):
            return []
        return sorted(
            s for s in os.listdir(d) if os.path.isdir(os.path.join(d, s))
        )

    def restore(self, name: str, snapshot_name: str) -> None:
        """Restore a table from a snapshot, atomically: the snapshot is
        materialized to a staging dir, then swapped in with two renames (a
        crash before the second rename leaves the old table in place). The
        snapshot itself is untouched, so restore is repeatable."""
        self._check_snapshot_name(snapshot_name)
        snap = f"__snapshots__/{name}/{snapshot_name}"
        if not self.exists(snap):
            raise FileNotFoundError(f"no snapshot {snapshot_name!r} for table {name!r}")
        target = self.path(name)
        staging = target + ".__staging__" + uuid.uuid4().hex[:8]
        w = self.read(snap).write.mode("overwrite")
        parts = self._partition_cols(snap)
        if parts:
            w = w.partitionBy(*parts)
        w.parquet(staging)
        if os.path.isdir(target):
            old = target + ".__old__" + uuid.uuid4().hex[:8]
            os.rename(target, old)
            os.rename(staging, target)
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.rename(staging, target)

    # ------------------------------------------------------------------
    # manifest
    # ------------------------------------------------------------------
    def _manifest_rows(self, rows: list[dict]) -> DataFrame:
        """``rows`` as a one-partition frame typed by ``MANIFEST_SCHEMA``,
        built in the JVM from one JSON literal: ``createDataFrame`` of a
        Python list would start a Python worker per default-parallelism
        slice."""
        return self.spark.range(1, numPartitions=1).select(
            F.inline(F.from_json(F.lit(json.dumps(rows)), T.ArrayType(MANIFEST_SCHEMA))))

    def manifest(self) -> DataFrame:
        if not self.exists(MANIFEST_TABLE):
            return self._manifest_rows([])
        return self.read(MANIFEST_TABLE)

    def append_manifest(self, rows: list[dict]) -> None:
        with _MANIFEST_APPEND:
            self._manifest_rows(rows).write.mode("append").parquet(self.path(MANIFEST_TABLE))

    def completed_partitions(self, stage: str, lineage: str | None = None) -> dict[int, int]:
        """``{partition_id: rows_out}`` of the stage's completed partitions."""
        if not self.exists(MANIFEST_TABLE):
            return {}
        m = self.manifest().filter(
            (F.col("stage") == stage) & (F.col("status") == "completed")
        )
        if lineage is not None:
            m = m.filter(F.col("lineage") == lineage)
        return {r.partition_id: r.rows_out for r in m.select("partition_id", "rows_out").collect()}


def run_stage(
    catalog: Catalog,
    stage: str,
    input_df: DataFrame,
    transform,
    n_partitions: int = 8,
    run_id: str | None = None,
    lineage: str | None = None,
    error_col: str | None = None,
) -> int:
    """Run one checkpointed pipeline stage; the stage run is the commit and
    resume unit. A stage with completed manifest rows (same stage+lineage)
    is skipped whole and its rows come from the manifest, at any
    ``n_partitions``. Otherwise ONE Spark job overwrites ``{stage}`` as
    ``__pid = pmod(xxhash64(doc_id), n)`` buckets (rows with a non-null
    ``error_col`` go to ``{stage}_errors``, F3), observing each bucket's
    ``rows_in``/``rows_out``/``errors``, and one manifest row per bucket
    lands after it; a crash before that redoes the whole stage. Returns the
    stage's rows. An empty stage has no bucket directories.
    """
    if n_partitions < 1:
        raise ValueError(f"n_partitions must be at least 1, got {n_partitions}")
    run_id = run_id or uuid.uuid4().hex[:12]
    lineage = lineage or stage + ":input"
    done = catalog.completed_partitions(stage, lineage)
    if done:
        return sum(done.values())
    pid = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_partitions)).cast("int")
    buckets = range(n_partitions)

    def per_bucket(prefix: str, cond: F.Column) -> list[F.Column]:
        return [F.count_if((F.col("__pid") == p) & cond).alias(f"{prefix}{p}") for p in buckets]

    seen_in, seen_out = Observation(), Observation()
    sub = input_df.withColumn("__pid", pid).observe(seen_in, *per_bucket("in", F.lit(True)))
    out = transform(sub.drop("__pid")).withColumn("__pid", pid)
    ok = F.lit(True) if error_col is None else F.col(error_col).isNull()
    out = out.observe(seen_out, *per_bucket("out", ok), *per_bucket("err", ~ok))
    good = out if error_col is None else out.filter(ok).drop(error_col)
    good.write.mode("overwrite").partitionBy("__pid").parquet(catalog.path(stage))
    counts = {**seen_in.get, **seen_out.get}
    if any(counts[f"err{p}"] for p in buckets):
        out.filter(~ok).write.mode("overwrite").partitionBy("__pid").parquet(
            catalog.path(stage + "_errors")
        )
    catalog.append_manifest(
        [
            {
                "stage": stage,
                "partition_id": p,
                "status": "completed",
                "rows_in": counts[f"in{p}"],
                "rows_out": counts[f"out{p}"],
                "errors": counts[f"err{p}"],
                "lineage": lineage,
                "run_id": run_id,
            }
            for p in buckets
        ]
    )
    return sum(counts[f"out{p}"] for p in buckets)
