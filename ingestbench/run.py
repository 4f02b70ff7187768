#!/usr/bin/env python3
"""End-to-end benchmark of ``pipeline.ingest()``, with a traced per-layer run.

Run from the repository root:

    python3 ingestbench/run.py --workload html_pages --seed 1 --seconds 15 --trace 0

One run is one driver process and one client in a closed loop: it starts
the next ``ingest()`` only after the previous one has finished, on
``local[<cores>]``.  ``--trace 0`` measures the end-to-end metrics with
tracing off; ``--trace 1`` runs every layer's public function under its own
span and job description, one composed ``ingest()`` plus its audit, and
reads Spark's event log into the per-layer record.  The last line of
standard output is the result object; the full record is also written to
``.ingestbench/results/``.  See ``ingestbench/README.md``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
STATE = ROOT / ".ingestbench"
FILES_PER_SPLIT = 4
MIB = float(1 << 20)


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over cores."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


class MemorySampler(threading.Thread):
    """Peak summed memory of this process's descendants: the driver JVM,
    the Python worker daemon and its workers.  Each process counts its
    proportional set size (resident pages, shared ones split among their
    sharers), so workers forked from the daemon are not counted twice."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = self.peak_jvm = self.peak_python = 0
        self._done = threading.Event()

    @staticmethod
    def _descendants(root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [root]
        while todo:
            kids = children.get(todo.pop(), [])
            out += kids
            todo += kids
        return out

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def run(self) -> None:
        while not self._done.wait(self.interval):
            pss = [self._pss(p) for p in self._descendants(os.getpid())]
            self.peak_bytes = max(self.peak_bytes, sum(pss))
            # the first descendant is the JVM; the rest are Python workers
            if pss:
                self.peak_jvm = max(self.peak_jvm, pss[0])
                self.peak_python = max(self.peak_python, sum(pss[1:]))

    def stop(self) -> None:
        self._done.set()
        self.join()


class Session:
    """The Spark session of one run and the processes behind it.

    All Spark scratch space, temp files and the event log live under the
    run's work directory, and the JVM's console log goes to a file there
    (its ERROR lines are counted)."""

    def __init__(self, work: Path):
        self.work = work
        self.nproc = _nproc()
        self.mem_total_mb = _mem_total_mb()
        for d in ("local", "tmp"):
            (work / d).mkdir()
        # set before the JVM starts: it and the Python workers inherit them
        path = [str(ROOT), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
        os.environ["PYTHONPATH"] = os.pathsep.join(path)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(2048, self.mem_total_mb // 4)}m"
        os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
        # every JVM: the spark-submit launcher and the driver
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
        self.log_path = work / "driver.log"
        self._log = open(self.log_path, "wb")
        self._stderr_fd = os.dup(2)
        os.dup2(self._log.fileno(), 2)
        self.stderr = os.fdopen(os.dup(self._stderr_fd), "w")
        self.spark = None
        self.java = None

    def start(self, event_log: Path | None = None):
        from pdf_to_epub_spark.session import get_spark

        conf = {
            "spark.local.dir": str(self.work / "local"),
            # a heap of fixed size, touched up front: how far the heap has
            # grown would otherwise decide peak_rss_mb, run by run
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "false",
        }
        if event_log is not None:
            event_log.mkdir()
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    # Spark 4 compresses with zstd by default; no zstandard
                    # module is installed to read it back
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.dir": event_log.as_uri(),
                }
            )
        self.spark = get_spark(
            app_name="ingestbench", master=f"local[{self.nproc}]", extra_conf=conf
        )
        self.java = self.spark.sparkContext._jvm.System.getProperty("java.version")
        return self.spark

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def error_lines(self) -> int:
        """ERROR lines the JVM has logged so far."""
        self._log.flush()
        return len(re.findall(rb"^\S+ \S+ ERROR ", self.log_path.read_bytes(), flags=re.MULTILINE))

    def versions(self) -> dict:
        import pyspark

        return {
            "nproc": self.nproc,
            "mem_total_mb": self.mem_total_mb,
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "spark": pyspark.__version__,
            "java": self.java,
            "python": platform.python_version(),
        }

    def close(self) -> None:
        """Stop Spark and the JVM, and wait for the JVM to exit; it takes
        its Python worker daemon down with it."""
        from pyspark import SparkContext

        self.stop_context()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        os.dup2(self._stderr_fd, 2)
        os.close(self._stderr_fd)
        self._log.close()
        self.stderr.close()

    def tail(self, n: int = 40) -> str:
        return "".join(self.log_path.read_text(errors="replace").splitlines(True)[-n:])


def _pinned(key: str) -> str:
    pinned = json.loads((BENCH_DIR / "pinned.json").read_text())
    if key not in pinned:
        raise KeyError(f"no pinned digest for input set {key}; run ingestbench/pin.py")
    return pinned[key]


def _summary(values: list[float]) -> dict:
    return {"median": statistics.median(values), "max": max(values), "n": len(values)}


def _composed(session, inputs, work: Path, name: str, tracer):
    """One composed ingest() plus its audit; returns (ingest s, audit s,
    output dir, audit)."""
    import layers

    out = work / name
    result = layers.run_ingest(session.spark, inputs, out, tracer, FILES_PER_SPLIT)
    audit = layers.collect_audit(result, tracer)
    return tracer.wall("ingest"), tracer.wall("audit"), out, audit


def run_untraced(args, session, inputs, gate, t0: float):
    """Set up (inputs, session, cold ingest), then repeat composed
    ingest() runs for ``--seconds``."""
    import layers
    from checks import check_parity

    work = session.work
    t_session = time.perf_counter()
    spark = session.start()
    tracer = layers.Tracer(spark, f"{args.workload}-{args.seed}", describe=False)
    t_cold = time.perf_counter()
    cold_s, _, out, audit = _composed(session, inputs, work, "cold", tracer)
    setup_s = time.perf_counter() - t0
    try:
        parity = check_parity(
            layers.extract_sample(spark, inputs), inputs.parity_sample, inputs.html_mode
        )
    except Exception:
        parity = [traceback.format_exc()]
    gate.composed("cold", out, audit, args.corrupt, extra=parity)
    shutil.rmtree(out)

    # closed loop: the next run starts when the last has finished.  At
    # least two, so that a slow first warm run is never the whole sample.
    ingest_s: list[float] = []
    audit_s: list[float] = []
    start = time.perf_counter()
    for i in itertools.count():
        name = f"warm{i}"
        try:
            i_s, a_s, out, audit = _composed(session, inputs, work, name, tracer)
            ingest_s.append(i_s)
            audit_s.append(a_s)
            gate.composed(name, out, audit, args.corrupt)
            shutil.rmtree(out)
        except Exception:
            gate.record(name, [traceback.format_exc()])
        if i >= 1 and time.perf_counter() - start >= args.seconds:
            break
    if not ingest_s:
        raise RuntimeError("no warm ingest() run completed")

    metrics = {
        "setup_s": setup_s,
        "cold_ingest_s": cold_s,
        "ingest_s": statistics.median(ingest_s),
        "pages_per_s": inputs.n_pages / statistics.median(ingest_s),
        "audit_s": statistics.median(audit_s),
    }
    detail = {
        "setup_s": {"inputs_s": t_session - t0, "session_s": t_cold - t_session, "total": setup_s},
        "cold_ingest_s": cold_s,
        "ingest_s": _summary(ingest_s),
        "audit_s": _summary(audit_s),
        "failed_run_ratio": gate.failed / gate.attempted,
        "doc_error_ratio": _doc_error_ratio(audit),
    }
    return metrics, detail


def _doc_error_ratio(audit: dict) -> float:
    """Pages whose extraction status is not ok, of pages sent."""
    status = dict(audit["extracted"])
    return 1 - status.get("ok", 0) / sum(status.values())


def run_traced(args, session, inputs, gate):
    """The per-layer record.  With the event log on: a cold composed
    ingest() as warm-up, every layer under its own span and job
    description, then one traced composed ingest() plus audit.  Then, in a
    fresh context with tracing off, the untraced baseline for
    ``tracing_overhead_s``."""
    import eventlog
    import layers

    work = session.work
    spark = session.start(event_log=work / "eventlog")
    tracer = layers.Tracer(spark, f"{args.workload}-{args.seed}-traced", describe=True)
    with tracer.span("cold"):
        # its jobs keep the label "cold"; the inner tracer sets none
        plain = layers.Tracer(spark, tracer.run_id, describe=False)
        _, _, *cold = _composed(session, inputs, work, "cold", plain)
    run = layers.run_layers(spark, inputs, work / "layers", tracer, FILES_PER_SPLIT)
    with tracer.span("check"):
        gate.layers(run, work / "layers")
        layers.release(spark)
    gate.composed("cold", *cold, args.corrupt)
    traced_s, _, *traced = _composed(session, inputs, work, "traced", tracer)
    gate.composed("traced", *traced, args.corrupt)
    session.stop_context()

    spark = session.start()
    plain = layers.Tracer(spark, f"{args.workload}-{args.seed}-untraced", describe=False)
    # start the new context's Python workers before timing
    layers.extract_sample(spark, inputs).write.format("noop").mode("overwrite").save()
    untraced_s, _, *untraced = _composed(session, inputs, work, "untraced", plain)
    gate.composed("untraced", *untraced, args.corrupt)
    session.stop_context()
    audit = traced[1]

    totals = eventlog.totals_by_description(eventlog.event_log_file(work / "eventlog"))
    none = eventlog.Totals()
    rows = run.rows_out
    metrics: dict[str, float] = {}
    for name in layers.LAYERS:
        t = totals.get(name, none)
        metrics.update(
            {
                f"{name}.wall_s": tracer.wall(name) if name in rows else 0.0,
                f"{name}.task_s": t.task_s,
                f"{name}.cpu_s": t.cpu_s,
                f"{name}.python_s": t.python_s,
                f"{name}.gc_s": t.gc_s,
                f"{name}.shuffle_write_mb": t.shuffle_write_mb,
                f"{name}.spill_mb": t.spill_mb,
                f"{name}.rows_out": rows.get(name, 0),
                f"{name}.tasks": t.tasks,
                f"{name}.failed_tasks": t.failed_tasks,
            }
        )
    ing = totals.get("ingest", none)
    aud = totals.get("audit", none)
    layer_wall = sum(metrics[f"{n}.wall_s"] for n in layers.LAYERS)
    layer_task_s = sum(metrics[f"{n}.task_s"] for n in layers.LAYERS)
    unattributed = totals.get("layers", none).task_s
    metrics.update(
        {
            "ingest.wall_s": traced_s,
            "ingest.task_s": ing.task_s,
            "ingest.python_s": ing.python_s,
            "ingest.shuffle_write_mb": ing.shuffle_write_mb,
            "ingest.jobs": ing.jobs,
            "ingest.stages": ing.stages,
            "ingest.tasks": ing.tasks,
            "ingest.python_stage_runs": ing.python_stages,
            "ingest.recompute_ratio": traced_s / layer_wall,
            "audit.wall_s": tracer.wall("audit"),
            "audit.task_s": aud.task_s,
            "audit.jobs": aud.jobs,
            "resume.skip_ratio": 1 - rows["resume"] / inputs.n_pages if "resume" in rows else 0.0,
            "quality_gate.keep_ratio": rows["quality_gate"] / rows["assemble"],
            "near_dedup.drop_ratio": 1 - rows["near_dedup"] / rows["exact_dedup"],
            "extract.doc_error_ratio": _doc_error_ratio(audit),
            "driver.error_lines": session.error_lines(),
            "tracing_overhead_s": traced_s - untraced_s,
            # executor time of the layer run's jobs outside every layer
            # span: the layers' task_s add up to the run's total less this
            "trace.unattributed_task_s": unattributed,
        }
    )
    detail = {
        "layers_task_s": layer_task_s,
        "layers_total_task_s": layer_task_s + unattributed,
        "untraced_ingest_s": untraced_s,
        "spans": tracer.spans,
        "by_description": {str(k): vars(v) for k, v in totals.items()},
    }
    return metrics, detail


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--quick", action="store_true", help="tiny inputs, for the self-test")
    ap.add_argument(
        "--corrupt", action="store_true",
        help="drop one row of every composed run's output, for the self-test",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse_args(argv)
    t0 = time.perf_counter()
    steal0 = _steal_s()
    sys.path.insert(0, str(ROOT))
    try:
        import pdf_to_epub_spark.pipeline  # noqa: F401
    except ImportError as exc:
        print(f"ingestbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import workloads
    from checks import Gate

    if args.workload not in workloads.WORKLOADS:
        print(f"ingestbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    expected = _pinned(workloads.input_key(args.workload, args.seed, args.quick))

    work = STATE / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    inputs = workloads.generate(args.workload, work / "inputs", args.seed, args.quick)
    session = Session(work)
    sampler = MemorySampler()
    gate = Gate(inputs, expected, session.stderr)
    ok = False
    try:
        sampler.start()
        if args.trace:
            metrics, detail = run_traced(args, session, inputs, gate)
        else:
            metrics, detail = run_untraced(args, session, inputs, gate, t0)
        sampler.stop()
        metrics["peak_rss_mb"] = sampler.peak_bytes / MIB
        detail["host"] = session.versions()
        detail["cpu_steal_s"] = _steal_s() - steal0
        detail["peak_mb"] = {"jvm": sampler.peak_jvm / MIB, "python": sampler.peak_python / MIB}
        ok = True
    except Exception:
        print(traceback.format_exc(), file=session.stderr)
        print(session.tail(), file=session.stderr)
    finally:
        if sampler.is_alive():
            sampler.stop()
        session.close()
    if not ok:
        return 1

    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        print(f"ingestbench: metrics not produced: {missing}", file=sys.stderr)
        return 1
    result = {
        "correct": gate.failed == 0,
        "attempted": gate.attempted,
        "failed": gate.failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted
        },
    }
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "input_set": inputs.key, **detail, "result": result}
    results = STATE / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-quick' if args.quick else ''}"
    (results / f"{name}.json").write_text(json.dumps(record, indent=1, default=str))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"host": detail["host"]}))
    print(json.dumps({k: v for k, v in detail.items() if k not in ("spans", "by_description", "host")}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
