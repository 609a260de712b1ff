"""Benchmark entry point: one workload per process.

    python3 graftbench/run.py --workload ycsb_contended --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The engine package
(``bishe_gpu_database_spark``) is imported from there; without it the
command exits with status 2 before doing any work. Inputs are generated
from ``--seed`` into ``.graftbench/`` under the checkout and removed at
exit; Spark's scratch space, the JVM's temporary files and Python's
``tempfile`` all point there too.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = ("ycsb_contended", "ycsb_large", "olap")
# The JVM heap is fixed and touched at start, so the JVM's share of the
# peak RSS does not depend on when the collector chose to grow the heap.
DRIVER_MEMORY = "2g"


class Run:
    """One benchmark process: its work directory, Spark session, tracer
    and the numbers its workload reports."""

    def __init__(self, args, root: str) -> None:
        self.args = args
        base = os.path.join(root, ".graftbench")
        os.makedirs(base, exist_ok=True)
        self.work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
        self.tracer = Tracer(enabled=bool(args.trace))
        self.spark = None
        self.session_start_s = 0.0
        self._t0 = time.perf_counter()
        self._isolate()

    def log(self, msg: str) -> None:
        """Progress line on standard error."""
        elapsed = time.perf_counter() - self._t0
        print(f"graftbench [{elapsed:6.1f}s] {msg}", file=sys.stderr, flush=True)

    def _isolate(self) -> None:
        """Point every scratch location of Python, Spark and the JVM into
        the work directory, and size the session to this machine."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
        java_opts += f" -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        # The status store keeps every job and stage of the run, so the
        # traced run can attribute all of them.
        confs = {
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
        ) + " pyspark-shell"

    def generate(self, *argv: str) -> None:
        """Write the seeded inputs in a child process, so the generator's
        memory is not the benchmark's."""
        subprocess.run(
            [sys.executable, os.path.join(HERE, "inputs.py"), *argv, "--seed", str(self.args.seed)],
            check=True,
        )

    def start_session(self):
        from bishe_gpu_database_spark.session import get_spark

        with self.tracer.span("session.start"):
            t0 = time.perf_counter()
            self.spark = get_spark("graftbench")
            self.session_start_s = time.perf_counter() - t0
        return self.spark

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python process plus the JVM."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return (py_kb + jvm_kb) / 1024

    def close(self) -> None:
        """Stop the session and the JVM, wait for it, remove the work dir."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = self.spark.sparkContext._gateway
            proc = gateway.proc
            self.spark.stop()
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            # The gateway JVM exits when its standard input closes.
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def parse_args(argv: list[str]):
    p = argparse.ArgumentParser(description="spark-graft benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "bishe_gpu_database_spark")):
        print("graftbench: run from a checkout holding bishe_gpu_database_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run = Run(args, root)
    try:
        if args.workload == "olap":
            from olap import run_olap

            result = run_olap(run)
        else:
            from ycsb import run_ycsb

            result = run_ycsb(run)
    finally:
        run.close()
    units = PER_LAYER if args.trace else END_TO_END
    values = result["layers"] if args.trace else result["e2e"]
    if set(values) != set(units):
        raise RuntimeError(f"metric set mismatch: {sorted(set(values) ^ set(units))}")
    out = {k: result[k] for k in ("correct", "attempted", "failed")}
    out["metrics"] = {name: {"value": values[name], "unit": units[name]} for name in units}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
