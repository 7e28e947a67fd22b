#!/usr/bin/env python3
"""KG-construction benchmark.

    python3 perfbench/run.py --workload batch_open_vocab --seed 1 --seconds 3 --trace 0

Runs one workload (see workloads.py) on ``local[nproc]`` from this one
driver process, checks its outputs and prints, as the last line of
standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics (layers.py) with ``--trace 1``.  Everything it
writes goes under ``.perfbench_work/`` in the checkout and is removed
at exit.  The checkout root is found from this file's location, so the
command works from any working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> unit; every workload reports all of them
END_TO_END = {
    "setup_s": "s",
    "peak_mem_mb": "MB",
    "triples_per_s": "1/s",
    "commit_p50_s": "s",
    "resume_s": "s",
}
DRIVER_MEMORY = "1g"


class PeakMemory:
    """Samples the memory of this process and all its descendants (the
    JVM and the Python workers) from /proc and keeps the peak.  Python
    processes count their proportional set size: the workers are forked
    from one daemon and share most pages, which summed RSS counts once
    per worker.  Other processes count RSS, which is cheap to read for a
    JVM where PSS is not."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def tree() -> list[tuple[int, str]]:
        """(pid, command name) of this process and all its descendants."""
        children: dict[int, list[tuple[int, str]]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    comm, rest = f.read().split("(", 1)[1].rsplit(")", 1)
                children.setdefault(int(rest.split()[1]), []).append((int(d), comm))
            except (OSError, IndexError, ValueError):
                continue
        out, todo = [], [(os.getpid(), "python")]
        while todo:
            proc = todo.pop()
            out.append(proc)
            todo.extend(children.get(proc[0], ()))
        return out

    def _bytes(self, pid: int, comm: str) -> int:
        try:
            if comm.startswith("python"):
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            return int(line.split()[1]) * 1024
                return 0
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0  # the process ended between listing and reading

    def sample(self) -> None:
        self.peak = max(self.peak, sum(self._bytes(pid, comm) for pid, comm in self.tree()))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker it
    started have exited (the gateway JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return  # already stopped
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(PeakMemory.tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def configure_environment(work: str, nproc: int) -> None:
    """Point the program and its Python workers at this checkout and keep
    every scratch file inside ``work``."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark_local")
    os.environ["SPARK_GRAFT_EXTRA_JAVA"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)


def start_session(work: str, nproc: int, trace: bool):
    from docs2kg_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "docs2kg_spark")):
        print(f"docs2kg_spark not found next to {os.path.dirname(__file__)}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # SIGTERM unwinds through the finally below, which stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_environment(work, nproc)
    load = os.getloadavg()
    steal0 = cpu_steal()

    spark = None
    try:
        with PeakMemory() as mem:
            t0 = time.perf_counter()
            spark = start_session(work, nproc, bool(args.trace))
            start_s = time.perf_counter() - t0
            run = Run(spark, work, args.seed, args.seconds)
            workload = WORKLOADS[args.workload]()
            try:
                t0 = time.perf_counter()
                workload.inputs(run)
                run.counts["inputs_s"] = time.perf_counter() - t0
                t0 = time.perf_counter()
                workload.warm_up(run)
                warmup_s = time.perf_counter() - t0
                result = measure(run, workload, bool(args.trace), start_s, warmup_s)
            except Exception:
                traceback.print_exc()
                run.failed.add("run")
                print(json.dumps({"correct": False, "attempted": max(run.attempted, 1), "failed": len(run.failed), "metrics": {}}))
                return 1
            stop_spark(spark)
            spark = None
        if not args.trace:
            result["metrics"]["peak_mem_mb"] = mem.peak / (1 << 20)
            result["metrics"] = {k: {"value": result["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
        for e in run.errors:
            print(f"FAILED {e}", file=sys.stderr)
        times = {k: [round(x, 2) for x in v] for k, v in run.times.items()}
        steal = [b - a for a, b in zip(steal0, cpu_steal())]
        print(
            f"{args.workload} seed {args.seed} nproc {nproc}: load average at start "
            f"{load[0]:.2f} {load[1]:.2f} {load[2]:.2f}, cpu steal {100 * steal[0] / max(steal[1], 1):.1f}%; "
            f"start {start_s:.2f}s inputs {run.counts['inputs_s']:.2f}s warm-up {warmup_s:.2f}s "
            f"checks {run.counts['checks_s']:.2f}s; op times {times}",
            file=sys.stderr,
        )
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there


def measure(run, workload, trace: bool, start_s: float, warmup_s: float) -> dict:
    from perfbench import layers
    from perfbench.trace import Tracer, find_event_log, parse_event_log

    tracer = None
    if trace:
        tracer = run.tracer = Tracer(run.spark.sparkContext)
        tracer.install()
    t_measure = time.time()
    try:
        workload.measure(run)
    finally:
        if tracer is not None:
            tracer.uninstall()
    t_end = time.time()
    run.bench_group(True)
    per_op = workload.verify(run, trace)
    run.bench_group(False)
    run.counts["checks_s"] = time.time() - t_end
    result = {"correct": not run.failed, "attempted": run.attempted, "failed": len(run.failed)}
    if not trace:
        metrics = dict(per_op)
        metrics["setup_s"] = start_s + warmup_s
        metrics["resume_s"] = statistics.median(run.times["resume"])
        result["metrics"] = metrics
        return result

    stop_spark(run.spark)  # flushes the event log
    groups = parse_event_log(find_event_log(os.path.join(run.work, "eventlog")))
    ungrouped = groups.get(None)
    run.counts["unattributed_task_s"] = ungrouped.task_s_between(t_measure, t_end) if ungrouped else 0.0
    run.counts["session.start_s"] = start_s
    run.counts["session.warmup_s"] = warmup_s
    values = layers.compute(tracer.spans, groups, run.counts, tracer.bookkeeping_s)
    result["metrics"] = {name: {"value": values[name], "unit": unit} for name, unit in layers.PER_LAYER}
    return result


if __name__ == "__main__":
    sys.exit(main())
