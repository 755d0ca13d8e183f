#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload image_day1 --seed 1 --seconds 1 --trace 0

Runs one workload (see ``workloads.py``) in one local Spark session sized
to the machine's cores, from the root of a checkout of this repository.
Inputs are generated from ``--seed`` and cached under
``.perfbench_cache/``; a miss is generated before the Spark session
starts. Every output, the warehouse, Spark's local dirs and the event
log go to a temporary directory under ``.perfbench_work/`` that is
removed at exit.

With ``--trace 0`` the last stdout line is the end-to-end result; with
``--trace 1`` it carries the per-layer metrics of ``trace.py``. Both
have the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# The driver heap is fixed at HEAP (-Xms = -Xmx), no page touched
# before use. A heap left to grow is sized by G1 from its pause times,
# which on a shared host follow the host's load more than the program,
# and peak_rss_mb spread past its bound (README.md). The program's
# default ceiling (48g) is more than a small host has.
HEAP = "2g"
# the input load is repeated and its median kept, so that setup_s is
# the median of several set-ups
LOAD_ROUNDS = 3


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Session:
    """The benchmark's Spark session, hermetic under ``work``: outputs,
    warehouse, local dirs, temp files and (traced) the event log."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None
        for d in ("tmp", "local", "warehouse", "eventlog"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        # Python workers import the package and the benchmark from the
        # checkout root, wherever the run starts
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        # no hsperfdata files in the system temp dir, from either JVM
        # (spark-submit's launcher and the driver)
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"

    def start(self, event_log: bool) -> float:
        from assetdatavalidationtool_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": os.path.join(self.work, "tmp"),
            "spark.driver.extraJavaOptions": "-Dio.netty.tryReflectionSetAccessible=true "
            f"-Xms{HEAP} -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": os.path.join(self.work, "eventlog"),
            })
        t0 = time.perf_counter()
        self.spark = get_spark(cores=len(os.sched_getaffinity(0)), app_name="perfbench",
                               driver_memory=HEAP, extra_conf=conf)
        return time.perf_counter() - t0

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop_context()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway exits on EOF
                proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def run_ops(wl, seconds: float, tree):
    """Run ops until ``seconds`` have passed (at least one); time, CPU,
    output size and check every op."""
    from perfbench.procs import cpu_delta
    from perfbench.workloads import tree_size

    ops = []
    start = time.perf_counter()
    tree.reset_peak()
    k = 0
    while k == 0 or time.perf_counter() - start < seconds:
        out = wl.out_dir(k)
        files0, bytes0 = tree_size(out)
        cpu0 = tree.cpu()
        t0 = time.perf_counter()
        try:
            result = wl.op(k)
            ok = None
        except Exception:  # a failed op counts against ok_rate; the run goes on
            traceback.print_exc()
            result, ok = None, False
        wall = time.perf_counter() - t0
        cpu = cpu_delta(tree.cpu(), cpu0)
        files1, bytes1 = tree_size(out)
        if ok is None:
            ok = bool(wl.check(result))
        ops.append({"wall": wall, "cpu": cpu, "files": files1 - files0,
                    "mb": (bytes1 - bytes0) / 2**20, "ok": ok})
        k += 1
    return ops, tree.peak_rss() / 2**20


def untraced(args, session, tree) -> dict:
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, str(ROOT / ".perfbench_cache"), session.work)
    wl.inputs()  # a cache miss is built here, outside the timed process
    tree.start()
    session_s = session.start(event_log=False)
    med = statistics.median
    setup_s = session_s + med(timed(lambda: wl.load(session.spark))
                              for _ in range(LOAD_ROUNDS))
    ops, peak_mb = run_ops(wl, args.seconds, tree)
    op_s = med(o["wall"] for o in ops)
    failed = sum(not o["ok"] for o in ops)
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_s": (op_s, "s"),
        "items_per_s": (wl.items / op_s, "items/s"),
        "cpu_s_per_op": (med(sum(o["cpu"].values()) for o in ops), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "out_files_per_op": (med(o["files"] for o in ops), "files"),
        "out_mb_per_op": (med(o["mb"] for o in ops), "MB"),
        "ok_rate": ((len(ops) - failed) / len(ops), "ratio"),
    }
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main(argv: list[str]) -> int:
    args = parse(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import assetdatavalidationtool_spark  # noqa: F401
        import run_validation  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.procs import ProcTree
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    (ROOT / ".perfbench_work").mkdir(exist_ok=True)
    (ROOT / ".perfbench_cache").mkdir(exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=ROOT / ".perfbench_work")
    session = Session(work)
    tree = ProcTree()  # started once the inputs exist (workloads.cached forks)
    try:
        if args.trace:
            from perfbench.trace import traced

            result = traced(args, session, tree)
        else:
            result = untraced(args, session, tree)
    finally:
        session.close()
        tree.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
