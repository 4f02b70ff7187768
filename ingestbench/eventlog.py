"""Per-layer metrics from Spark's own event log.

Stages are attributed to the job description that was set when they were
submitted; the benchmark's spans set one description per layer.  Only
stages that ran tasks count, so a stage skipped because its shuffle
output already existed adds nothing.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

MIB = float(1 << 20)


def _is_python_node(rdd_info: dict) -> bool:
    """An RDD that runs in a Python worker: a Python-boundary plan node
    (ArrowEvalPython, MapInArrow, MapInPandas, BatchEvalPython, ...) or an
    RDD-API ``PythonRDD``."""
    if rdd_info.get("Name") == "PythonRDD":
        return True
    scope = rdd_info.get("Scope")
    if not scope:
        return False
    name = json.loads(scope).get("name", "")
    return "Python" in name or "InArrow" in name or "InPandas" in name


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    python_stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    python_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


def totals_by_description(path: Path) -> dict[str | None, Totals]:
    """Aggregate jobs, executed stages and task metrics per job
    description."""
    stage_desc: dict[tuple[int, int], str | None] = {}
    stage_python: dict[tuple[int, int], bool] = {}
    ran: set[tuple[int, int]] = set()
    out: dict[str | None, Totals] = defaultdict(Totals)
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                out[(e.get("Properties") or {}).get("spark.job.description")].jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_desc[key] = (e.get("Properties") or {}).get("spark.job.description")
                stage_python[key] = any(_is_python_node(r) for r in info["RDD Info"])
            elif kind == "SparkListenerTaskEnd":
                key = (e["Stage ID"], e["Stage Attempt ID"])
                t = out[stage_desc[key]]
                if key not in ran:
                    ran.add(key)
                    t.stages += 1
                    t.python_stages += stage_python[key]
                t.tasks += 1
                if e["Task End Reason"]["Reason"] != "Success":
                    t.failed_tasks += 1
                m = e.get("Task Metrics")
                if not m:
                    continue
                run_s = m["Executor Run Time"] / 1e3
                cpu_s = m["Executor CPU Time"] / 1e9
                t.task_s += run_s
                t.cpu_s += cpu_s
                if stage_python[key]:
                    t.python_s += run_s - cpu_s
                t.gc_s += m["JVM GC Time"] / 1e3
                t.shuffle_write_mb += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MIB
                t.spill_mb += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / MIB
    return dict(out)


def event_log_file(directory: Path) -> Path:
    """The single, finished event log a stopped session left behind."""
    logs = [p for p in directory.iterdir() if not p.name.startswith(".")]
    if len(logs) != 1 or logs[0].name.endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {directory}, found {logs}")
    return logs[0]
