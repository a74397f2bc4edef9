"""Benchmark entry point.

    python3 perfbench/run.py --workload <kg_build|sparql_bsbm>
        --seed <n> --seconds <s> --trace <0|1> [--scale bench|tiny]

Run from the repository root.  Inputs are generated from the seed before
the set-up clock starts; the program (``rdflib_r2r_spark``) sees only those
inputs.  After the measured phase every operation's output is checked
against its reference.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics.  The line before it holds the run's context: sample
counts, host CPU steal and load, the pinned probe wall and the
per-operation (and per-phase or per-request) walls and CPU times.

All scratch files (inputs, Spark local dirs, event logs, outputs) live in
``.perfbench_work/`` under the repository root and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PROBE_DOCS = 20_000  # pinned size for scripts/probe.py's probe_wall
CORES = len(os.sched_getaffinity(0))  # what nproc prints


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="bench")
    return ap.parse_args(argv)


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def configure_env(work: Path, trace: bool) -> None:
    """Session settings from outside the program: cores, scratch dirs,
    long-lived JIT compiler threads and (traced runs) the uncompressed
    event log."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(tmp)
    # every JVM (the launcher too): scratch inside the work dir, no
    # hsperfdata file in /tmp, and JIT compiler threads that live as long
    # as the JVM, so host.jit_cpu_s sees all of their CPU time (HotSpot
    # otherwise starts and ends C2 threads every few seconds, and an ended
    # thread's time is no longer readable per thread)
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
                                       f"-Djava.io.tmpdir={tmp}")
    confs = ["spark.ui.showConsoleProgress=false"]
    if trace:
        events = work / "events"
        events.mkdir()
        confs += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{events}",
                  "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"


class Session:
    """The SparkSession, started through the program's ``get_spark``."""

    def __init__(self):
        from rdflib_r2r_spark.session import get_spark

        self._get = get_spark
        self.spark = None

    def start(self) -> None:
        self.spark = self._get("perfbench")

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def probe_wall(spark) -> float | None:
    try:
        from scripts.probe import probe_wall as pw
    except ImportError:
        return None
    spark.sparkContext.setJobGroup("probe", "probe")
    return pw(spark, PROBE_DOCS)


def summary(values: list[float]) -> dict:
    return {"p50": statistics.median(values), "samples": len(values)}


def end_to_end(wl, setup_cpu_s: float, names: list[dict]) -> dict:
    """The gated metrics: the median CPU time of an operation without the
    JIT compiler's (``host.work_cpu_s``) and the CPU time of the set-up.  On
    a host that shares its CPUs, walls move with the host's CPU steal far
    more than the bounds allow; the walls are in the context line."""
    values = {"setup_s": setup_cpu_s, "op_cpu_s": statistics.median(wl.cpu)}
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}


def per_layer(wl, events: Path, session_start: float, cpu_s: float, wall_s: float,
              steal_s: float | None, names: list[dict]) -> dict:
    from perfbench import eventlog
    from perfbench.workloads import OP_GROUP

    spans = eventlog.parse(eventlog.log_files(str(events)))
    values = {
        "session.start_s": session_start,
        "process.cpu_s": cpu_s,
        "process.core_util": cpu_s / (wall_s * CORES) if wall_s else 0.0,
        "host.steal_s": steal_s or 0.0,
    }
    values.update(wl.layer)
    values.update(wl.layer_metrics(spans))
    traced_groups = {g for g in spans if g and g not in ("check", "probe")}
    values["trace.unattributed_share"] = eventlog.unattributed_share(
        {g: s for g, s in spans.items() if g in traced_groups}, traced_groups - {OP_GROUP})
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "rdflib_r2r_spark" / "__init__.py").is_file():
        print("perfbench: the rdflib_r2r_spark package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    try:
        from perfbench import host, inputs, workloads
    except ImportError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS or args.scale not in inputs.SCALES:
        print(f"perfbench: unknown workload {args.workload!r} or scale {args.scale!r}",
              file=sys.stderr)
        return 2
    bench = spec()
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    session = None
    try:
        configure_env(work, bool(args.trace))
        ctx = workloads.Context(args.seed, inputs.SCALES[args.scale], str(work), args.seconds)
        wl = workloads.WORKLOADS[args.workload](ctx)
        t_inputs = time.perf_counter()
        wl.make_inputs()
        t_inputs = time.perf_counter() - t_inputs

        # set-up: the session start (JVM launch included) plus the
        # workload's own set-up, once.  Restarting the session inside the
        # same JVM would give several samples, but their median moved
        # further between two 10-seed sets on a shared host than this did.
        session = Session()
        c0, t0 = host.tree_cpu_s(), time.perf_counter()
        session.start()
        wl.setup(session.spark)
        setup_s = time.perf_counter() - t0
        setup_cpu_s = host.tree_cpu_s() - c0

        steal0, t_run = host.steal_s(), time.perf_counter()
        cpu0, jit0 = host.tree_cpu_s(), host.jit_cpu_s()
        if args.trace:
            wl.traced()
        else:
            wl.timed()
        run_wall = time.perf_counter() - t_run
        cpu_s = host.tree_cpu_s() - cpu0
        jit_s = host.jit_cpu_s() - jit0
        steal1 = host.steal_s()
        steal = steal1 - steal0 if steal0 is not None and steal1 is not None else None

        session.spark.sparkContext.setJobGroup("check", "check")
        attempted, failed = wl.check()
        probe = probe_wall(session.spark)
        if args.trace:
            metrics = per_layer(wl, work / "events", setup_s, cpu_s, run_wall, steal,
                                bench["per_layer"])
        else:
            metrics = end_to_end(wl, setup_cpu_s, bench["end_to_end"])
        context = {
            "workload": args.workload, "seed": args.seed, "scale": args.scale,
            "trace": args.trace,
            "wall": summary(wl.lat), "cpu": summary(wl.cpu),
            "op_walls_s": [round(x, 4) for x in wl.lat],
            "op_cpu_s": [round(x, 4) for x in wl.cpu],
            "setup_wall_s": round(setup_s, 4), "setup_cpu_s": round(setup_cpu_s, 3),
            "inputs_s": round(t_inputs, 3), "measure_wall_s": round(run_wall, 3),
            "measure_cpu_s": round(cpu_s, 2), "measure_jit_cpu_s": round(jit_s, 2),
            "steal_s": steal, "loadavg": host.loadavg(), "probe_wall_s": probe,
            "cores": CORES, **wl.context,
        }
        print(json.dumps({"context": context}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(work, ignore_errors=True)
        parent = work.parent
        if parent.is_dir() and not any(parent.iterdir()):
            parent.rmdir()


if __name__ == "__main__":
    sys.exit(main())
