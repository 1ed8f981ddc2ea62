#!/usr/bin/env python3
"""Self-test of the job benchmark on a tiny corpus, one timed op per run.

    python3 perfbench/selftest.py

Checks that every metric named in ``BENCHMARK.json`` prints with its unit
(end-to-end with ``--trace 0``, per-layer with ``--trace 1``), and that a
span corrupted in the catalog after the op counts the op as failed. Takes
about five minutes: every run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = 60
# outside the seeds of a measured series, so its detail files overwrite none
SEED = "0"


def run(workload: str, trace: int, docs: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", SEED,
           "--seconds", "1", "--trace", str(trace), "--docs", str(docs), "--max-ops", "1",
           *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        raise SystemExit(1)


def check_names(result: dict, spec: list[dict], label: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in spec}
    expect(got == want, f"{label}: every metric prints once with its unit")
    expect(result["attempted"] >= 1 and result["failed"] == 0 and result["correct"],
           f"{label}: {result['attempted']} ops attempted, none failed")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        check_names(run(w["name"], 0, TINY), bench["end_to_end"], f"{w['name']} end-to-end")
    # full size: the traced run's checkpointed re-run needs every one of its
    # 64 buckets to hold a doc
    check_names(run("extract_fused", 1, 1000), bench["per_layer"], "extract_fused per-layer")
    bad = run("extract_fused", 0, TINY, "--plant-corrupt-span")
    expect(bad["failed"] >= 1 and not bad["correct"], "a corrupted span counts its op as failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
