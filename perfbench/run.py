"""Crawl-engine benchmark: one workload per process, one JSON line out.

Run from the repository root::

    python3 perfbench/run.py --workload crawl_continuous --seed 1 \\
        --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones and writes the spans to ``.perfbench/traces/<workload>-s<seed>.json``.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the exit code is 1
when a correctness check failed.  ``--workload all`` runs every workload,
each in its own process, and prints one such line per workload.  See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measured loop wall; the operation in flight "
                         "completes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-memory", default="3g")
    return ap.parse_args(argv)


# -- process-tree memory ----------------------------------------------------

def _tree_rss_mb(root: int) -> float:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue   # the process ended while we listed it
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2 ** 20


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, _tree_rss_mb(me))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# -- Spark session ------------------------------------------------------------

def start_session(work: str, driver_memory: str):
    """The CLI's session recipe (``local[nproc]``, ``max(8, nproc)`` shuffle
    partitions) with the given driver memory, all scratch space under
    ``work``, and enough retained jobs/stages for a trace to see a run."""
    from crawlspark.config import SparkTuning
    from crawlspark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    # the JVMs write nothing outside ``work``: no /tmp/hsperfdata files
    tmp = os.path.join(work, "tmp")
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    spark = get_spark(SparkTuning(
        master=f"local[{cpus}]", shuffle_partitions=max(8, cpus),
        driver_memory=driver_memory, app_name="crawlspark-perfbench",
        gc_opts=f"{SparkTuning.gc_opts} {jvm_opts}",
        extra={"spark.local.dir": os.path.join(work, "spark-local"),
               "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
               "spark.ui.showConsoleProgress": "false",
               "spark.ui.retainedJobs": "100000",
               "spark.ui.retainedStages": "100000"}))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# -- one workload ---------------------------------------------------------------

def _run_one(args) -> int:
    import metrics
    import workloads
    from spans import Tracer

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    run = workloads.Run(name=args.workload, seed=args.seed,
                        seconds=args.seconds, work=work,
                        cache=os.path.join(ROOT, ".perfbench", "cache"))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(work, args.driver_memory)
            t_session = time.perf_counter() - t0
            tracer = Tracer(spark.sparkContext,
                            f"{args.workload}-s{args.seed}", bool(args.trace))
            tracer.install()
            try:
                setup_s, store = workloads.WORKLOADS[args.workload](
                    run, spark, tracer, t_session)
                if args.trace:
                    tracer.attach_spark_metrics()
                    out = metrics.per_layer(run, spark, store,
                                            workloads.crawl_config(), tracer)
                    tracer.dump(os.path.join(
                        ROOT, ".perfbench", "traces",
                        f"{args.workload}-s{args.seed}.json"))
            finally:
                tracer.uninstall()
                stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: {args.workload} seed={args.seed} setup_s={setup_s:.2f}"
          f" op_walls={run.op_walls} fold_walls={run.fold_walls}",
          file=sys.stderr)
    for msg in run.problems:
        print(f"perfbench: FAILED: {msg}", file=sys.stderr)
    if not run.op_walls:
        return 1   # no operation completed: nothing to report
    if not args.trace:
        out = metrics.end_to_end(run, setup_s, rss.peak_mb)
    print(json.dumps({
        "correct": not run.problems, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }), flush=True)
    return 1 if run.problems else 0


def _run_all(args) -> int:
    import workloads

    status = 0
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--driver-memory",
               args.driver_memory]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print(json.dumps({"workload": name,
                          **(json.loads(lines[-1]) if lines else {})}),
              flush=True)
        status = status or proc.returncode or (0 if lines else 1)
    return status


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "crawlspark", "__init__.py")):
        print(f"perfbench: no crawlspark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import workloads

    if args.workload == "all":
        return _run_all(args)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)} or all", file=sys.stderr)
        return 2
    try:
        return _run_one(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
