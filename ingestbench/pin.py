#!/usr/bin/env python3
"""Recompute ``pinned.json``: the expected corpus digest of every input set.

    python3 ingestbench/pin.py

Each digest comes from the layer-by-layer run, which must pass every other
check of the gate first.  Run this only for a change that is meant to alter
what ``ingest()`` outputs, and say so where the change is described.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys

import run


def main() -> int:
    argparse.ArgumentParser(description=__doc__.split("\n\n")[0]).parse_args()
    sys.path.insert(0, str(run.ROOT))
    import layers
    import workloads
    from checks import Gate

    path = run.BENCH_DIR / "pinned.json"
    pinned = {}
    work = run.STATE / "pin"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    session = run.Session(work)
    failed = []
    try:
        spark = session.start()
        tracer = layers.Tracer(spark, "pin", describe=False)
        for quick in (True, False):
            for workload in workloads.WORKLOADS:
                for seed in range(workloads.SEED_CLASSES):
                    inputs = workloads.generate(
                        workload, work / f"{workload}-{quick}-{seed}", seed, quick
                    )
                    gate = Gate(inputs, None, session.stderr)
                    out = work / f"{workload}-{quick}-{seed}" / "layers"
                    layer_run = layers.run_layers(spark, inputs, out, tracer, run.FILES_PER_SPLIT)
                    if gate.layers(layer_run, out):
                        pinned[inputs.key] = gate.expected
                    else:
                        failed.append(inputs.key)
                    layers.release(spark)
                    print(inputs.key, gate.expected, file=session.stderr, flush=True)
    finally:
        session.close()
    path.write_text(json.dumps(dict(sorted(pinned.items())), indent=1) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    if failed:
        print(f"not pinned, the gate failed: {failed}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
