#!/usr/bin/env python3
"""Self-test of the benchmark, on tiny inputs.

    python3 ingestbench/selftest.py

1. A quick run of every workload, untraced and traced, passes the gate and
   prints every metric ``BENCHMARK.json`` names, each with its unit.
2. A run whose written output lost one row fails the gate: every run it
   attempted counts as failed.
3. In a directory that holds only ``BENCHMARK.json`` and the benchmark's
   files, the benchmark exits non-zero without printing a result.

Takes a few minutes; exits non-zero on the first failed expectation.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys

import run
import workloads


def _bench(root, *args: str) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, "ingestbench/run.py", *args],
        cwd=root, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    if last is not None and "correct" not in last:
        last = None
    return proc.returncode, last


def _expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main() -> int:
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    quick = ("--seconds", "1", "--quick", "--seed", "3")
    for workload in workloads.WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = _bench(run.ROOT, "--workload", workload, "--trace", str(trace), *quick)
            _expect(code == 0 and res is not None, f"{workload} trace {trace}: exit 0 with a result")
            _expect(res["correct"] and res["failed"] == 0, f"{workload} trace {trace}: gate passes")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            _expect(got == want, f"{workload} trace {trace}: every {key} metric with its unit")

    code, res = _bench(run.ROOT, "--workload", "recrawl_dedup", "--trace", "0", "--corrupt", *quick)
    _expect(code == 0 and res is not None, "corrupted output: exit 0 with a result")
    _expect(
        not res["correct"] and res["failed"] == res["attempted"] > 0,
        "corrupted output: every run fails the gate",
    )

    bare = run.STATE / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(run.ROOT / "BENCHMARK.json", bare)
    shutil.copytree(run.BENCH_DIR, bare / "ingestbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, res = _bench(bare, "--workload", "html_pages", "--trace", "0", *quick)
    shutil.rmtree(bare)
    _expect(code != 0 and res is None, "benchmark files alone: non-zero exit, no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
