"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload at local[<nproc>] from the root of a checkout, checks its
outputs, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones (see NOTES.md).  Everything it writes lives under ``.perfbench_work/``
in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# the engine is imported before anything is printed: without it there is
# nothing to measure, and the run must fail without a result line
import ape_dts_spark  # noqa: E402,F401

from perfbench import inputs, workloads  # noqa: E402
from perfbench.host import (  # noqa: E402
    RssSampler, cpu_steal_s, driver_memory_mb, host_memory_mb, process_tree, write_canary,
)

WORK = os.path.abspath(".perfbench_work")


# -- Spark session ------------------------------------------------------------


class Session:
    """Host-sized local session; stop() then start() replaces the SparkContext
    with a new one in the same JVM (the engine's start-up cost, minus JVM
    launch)."""

    def __init__(self, nproc: int, work: str):
        self.nproc = nproc
        self.host_mb = host_memory_mb()
        gc = max(2, min(nproc, 16))
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # Python workers import the engine from the checkout; temp files of
        # the JVM and of Python stay inside the work directory
        pythonpath = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["PYTHONPATH"] = pythonpath
        os.environ["TMPDIR"] = tmp
        self.conf = {
            "spark.driver.memory": f"{driver_memory_mb(self.host_mb)}m",
            "spark.executorEnv.PYTHONPATH": pythonpath,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a run is one session: its status stores keep every job, stage
            # and SQL execution for the traced split
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.driver.extraJavaOptions": (
                f"-XX:ParallelGCThreads={gc} -XX:ConcGCThreads={max(1, gc // 4)} "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
        }
        self.spark = None

    def start(self):
        from ape_dts_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=inputs.BUCKETS,
            extra_conf=self.conf,
        )
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def restart(self):
        self.stop()
        return self.start()

    def describe(self) -> dict:
        import pyarrow
        import pyspark

        conf = self.spark.sparkContext.getConf()
        keys = [
            "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.execution.arrow.maxRecordsPerBatch",
            "spark.sql.parquet.compression.codec", "spark.driver.extraJavaOptions",
            "spark.executorEnv.PYTHONPATH",
        ]
        return {
            "conf": {k: conf.get(k) for k in keys},
            "host_memory_mb": self.host_mb,
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
        }

    def close(self) -> None:
        """Stop Spark and the JVM, and wait until every child has exited."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline and len(process_tree(os.getpid())) > 1:
            time.sleep(0.1)
        for pid in process_tree(os.getpid())[1:]:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# -- main -----------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="testdata directory (curation_queries only)")
    ap.add_argument("--cores", type=int, help="pin to this many cores (cdc_scaling cells)")
    args = ap.parse_args(argv)

    if args.cores:
        allowed = sorted(os.sched_getaffinity(0))
        os.sched_setaffinity(0, set(allowed[: args.cores]))
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    rss = RssSampler()
    rss.start()
    steal0 = cpu_steal_s()
    session = Session(nproc, run_dir)
    try:
        t0 = time.perf_counter()
        session.start()
        jvm_start_s = time.perf_counter() - t0
        print(json.dumps({"workload": args.workload, "seed": args.seed, "nproc": nproc,
                          "jvm_start_s": round(jvm_start_s, 3), **session.describe()}))
        canary = write_canary(os.path.join(run_dir, "canary"))
        print(json.dumps({"host_write_gbps": round(canary, 3)}))
        ctx = workloads.Context(
            session=session, session_start_s=jvm_start_s, work=run_dir,
            records=os.path.join(WORK, "records"), seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), canary=canary, sf_dir=args.sf_dir,
        )
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        t_close = time.perf_counter()
        session.close()
        peak_mb = rss.stop()
        print(f"session close {time.perf_counter() - t_close:.2f} s", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
    res.lines.append(f"peak RSS {peak_mb:.0f} MB (process tree)")
    if args.trace and args.workload in workloads.PHASES:
        res.put("host.steal_s", cpu_steal_s() - steal0, layer=True)
        res.put("host.peak_rss_mb", peak_mb, layer=True)
    for line in res.report_lines():
        print(line)
    print(json.dumps(res.result(args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
