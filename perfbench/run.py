#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,serve} --seed N \
        --seconds S --trace {0,1} [--size {full,tiny}]

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``). ``--size tiny`` is the smoke size used by
``perfbench/smoke.py``; the figures it prints are not comparable.

Everything a run writes goes under ``.bench_work/`` in the checkout and is
deleted at the end of the run, except the served index that the ``serve``
workload builds once per checkout under ``.bench_build/`` and the last
trace written under ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def _ctrl_loop() -> float:
    """A fixed pure-Python loop; its wall time tracks host speed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def _cpu_times() -> tuple[int, int]:
    """-> (steal, total) jiffies from /proc/stat, (0, 0) where absent."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass  # removed while walking
    return total


class Run:
    """One benchmark run: its work directory, host-noise probes, disk peak
    sampler and (lazily) its Spark session. ``close()`` stops all of them."""

    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.tiny = args.size == "tiny"
        self.work = os.path.join(ROOT, ".bench_work",
                                 f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "spark-local"):
            os.makedirs(os.path.join(self.work, sub))
        # before pyspark is imported: the JVM, the Python workers and the
        # library's tempfile users all write under the work directory
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        import tempfile
        tempfile.tempdir = os.environ["TMPDIR"]
        sys.path.insert(0, ROOT)

        self.ctrl_s = [_ctrl_loop()]
        self._cpu0 = _cpu_times()
        self.disk_peak = 0
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample_disk,
                                         daemon=True)
        self._sampler.start()
        self._spark = None
        self._jvm = None

    def _sample_disk(self):
        while not self._stop.wait(0.5):
            self.disk_peak = max(self.disk_peak, dir_bytes(self.work))

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def spark(self):
        if self._spark is None:
            from hadoopsearchengine_spark.session import get_spark
            from pyspark import SparkContext
            cores = len(os.sched_getaffinity(0))
            self._spark = get_spark("perfbench", cores=cores, extra_conf={
                "spark.driver.memory": "3g",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.path('tmp')}",
                "spark.local.dir": self.path("spark-local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
            self._jvm = getattr(SparkContext._gateway, "proc", None)
        return self._spark

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers it forked) to exit."""
        if self._spark is None:
            return
        from pyspark import SparkContext
        self._spark.stop()
        self._spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        proc, self._jvm = self._jvm, None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)

    def host_metrics(self) -> dict:
        self.ctrl_s.append(_ctrl_loop())
        steal1, total1 = _cpu_times()
        dt = total1 - self._cpu0[1]
        return {
            "host.ctrl_s": statistics.fmean(self.ctrl_s),
            "host.steal_pct": 100.0 * (steal1 - self._cpu0[0]) / dt
            if dt else 0.0,
            "plans.disk_peak_mb": max(self.disk_peak,
                                      dir_bytes(self.work)) / 2**20,
        }

    def close(self) -> None:
        try:
            self.stop_spark()
        finally:
            self._stop.set()
            self._sampler.join(timeout=30)
            shutil.rmtree(self.work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("build", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    missing = [p for p in ("hadoopsearchengine_spark", "__spark_entry__.py",
                           "oracle", "BENCHMARK.json")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing "
              f"{', '.join(missing)}); run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    run = Run(args)
    try:
        from workloads import WORKLOADS
        res = WORKLOADS[args.workload](run)
        host = run.host_metrics()
    finally:
        run.close()

    values = res.per_layer if args.trace else res.end_to_end
    values.update(host)
    unknown = [m["name"] for m in wanted if m["name"] not in values]
    if not args.trace and unknown:
        raise RuntimeError(f"workload did not measure {unknown}")
    if unknown:
        # a layer this workload does not run reads 0
        print(f"perfbench: not run on {args.workload}: {' '.join(unknown)}",
              file=sys.stderr)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    for p in res.problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    correct = not res.problems
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed if correct else res.attempted,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
