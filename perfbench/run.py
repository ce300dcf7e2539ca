#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload named in ``BENCHMARK.json`` against the ``chessmate_spark``
package of the checkout this file sits in, on ``local[nproc]``.  Set-up is
the session start (JVM launch included), a warm-up job that forks the
Python worker pool, the workload's own preparation (input generation),
which is repeated ``SETUP_REPS`` times, and the workload's warm-up;
``setup_s`` is the session part plus the median preparation plus the
warm-up.  Every output is checked; a failed check makes the
run exit 1.

Standard output ends with two JSON lines.  The second-to-last is the run's
detail record: host posture (nproc, ``local[N]``, CPU steal and load sampled
from ``/proc``), every workload metric by name and unit with its sample
count, and the failed checks.  The last line is the result:
``{"correct", "attempted", "failed", "metrics"}`` where ``metrics`` holds
every ``end_to_end`` metric of ``BENCHMARK.json`` (``--trace 0``) or every
``per_layer`` metric (``--trace 1``; layers a workload does not exercise
read 0).

All scratch files (generated tables, shards, Spark local dirs, temp files)
go under ``.bench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# a fixed heap keeps peak RSS comparable between runs; the inputs are small
DRIVER_MEMORY = "2g"


class Checks:
    """Operations attempted, and the ones that failed, were refused or
    answered wrong.

    Every check names the operation it covers by a ``key``: a request, a
    batch question, an ingest, an entry.  An operation counts as failed
    once, however many of its checks fail."""

    MAX_MESSAGES = 50

    def __init__(self) -> None:
        self.attempted = 0
        self.failed_ops: set = set()
        self.messages: list = []

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    def op(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, key, what: str) -> None:
        self.failed_ops.add(key)
        if len(self.messages) < self.MAX_MESSAGES:
            self.messages.append(what)

    def expect(self, ok: bool, key, what: str) -> None:
        if not ok:
            self.fail(key, what)


class HostSampler:
    """Samples CPU steal and load from /proc on a background thread."""

    PERIOD_S = 0.5

    def __init__(self) -> None:
        self.samples: list = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _cpu() -> list:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]

    @staticmethod
    def _load() -> float:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])

    def _loop(self) -> None:
        prev = self._cpu()
        while not self._stop.wait(self.PERIOD_S):
            cur = self._cpu()
            delta = [c - p for c, p in zip(cur, prev)]
            total = sum(delta[:8]) or 1
            steal = delta[7] if len(delta) > 7 else 0
            self.samples.append((100.0 * steal / total, self._load()))
            prev = cur

    def start(self) -> None:
        self._start_cpu = self._cpu()
        self._thread.start()

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=5)
        end = self._cpu()
        delta = [e - s for e, s in zip(end, self._start_cpu)]
        total = sum(delta[:8]) or 1
        steals = [s for s, _ in self.samples] or [0.0]
        loads = [ld for _, ld in self.samples] or [self._load()]
        return {
            "steal_pct": 100.0 * (delta[7] if len(delta) > 7 else 0) / total,
            "steal_pct_max": max(steals),
            "load_avg_mean": statistics.fmean(loads),
            "load_avg_max": max(loads),
            "samples": len(self.samples),
        }


def _prepare_env(work: str, trace: bool) -> None:
    """Keep every file the run writes inside ``work`` and put the checkout
    on the Python workers' path (``mapInPandas`` workers import
    ``chessmate_spark`` by module path)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    confs = {
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    import shlex

    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _warm(spark, nproc: int) -> None:
    """Fork the Python worker pool and import the heavy modules in it, so
    the first Arrow stage of the workload does not pay for it."""

    def _imports(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        import chessmate_spark.chess  # noqa: F401

        for b in batches:
            yield b

    spark.range(0, nproc * 4, 1, nproc).mapInPandas(_imports, "id long").count()


def _jvm_peak_rss_mb(spark) -> float:
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (AttributeError, OSError, ValueError):
        pass
    return 0.0


def _stop_jvm() -> None:
    """End the JVM pyspark launched (it exits when its stdin closes; its
    Python worker daemon goes with it) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    spec = _load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; known: {names}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import chessmate_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program under test: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    trace = bool(args.trace)
    _prepare_env(work, trace)
    nproc = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        nproc = len(os.sched_getaffinity(0))

    import resource

    from chessmate_spark.session import get_spark
    from spans import Tracer

    if args.workload == "ingest_serve":
        from ingest_serve import IngestServe as Workload
    else:
        from analytics import Analytics as Workload

    host = HostSampler()
    host.start()
    checks = Checks()
    workload = Workload(seed=args.seed, seconds=args.seconds, work=work, nproc=nproc)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=nproc)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        _warm(spark, nproc)
        t2 = time.perf_counter()
        firsts = {"session.start_s": t1 - t0, "session.warm_s": t2 - t1}
        prepares = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            workload.prepare(spark)
            prepares.append(time.perf_counter() - t)
        t = time.perf_counter()
        workload.warm(spark)
        warm_s = time.perf_counter() - t
        setup_s = (t2 - t0) + statistics.median(prepares) + warm_s
        master = spark.sparkContext.master
        tracer = Tracer(spark, enabled=trace)
        e2e, layers, detail = workload.run(spark, tracer, checks)
        tracer.readout()
        if trace:
            layers.update(workload.traced_layers(spark, tracer, checks))
            layers["jvm.gc_s"] = tracer.gc_s()
        layers.update(firsts)
        layers["trace.tag_ms"] = tracer.tag_s * 1000.0
        layers["trace.readout_s"] = tracer.readout_s
        py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = py_rss + _jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        posture = host.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_work"))
        except OSError:
            pass

    attempted = max(1, checks.attempted)
    failed = min(checks.failed, attempted)
    layers["op_fail_ratio"] = failed / attempted
    layers.update(detail.get("values", {}))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in e2e]
    if missing:
        checks.op()
        checks.fail("metrics", f"workload did not measure {missing}")
    source = layers if trace else e2e
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    detail_record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {"nproc": nproc, "master": master, "prepare_reps_s": prepares,
                 "workload_warm_s": warm_s, **posture},
        "metrics": {
            k: {"value": v, "unit": units.get(k, detail.get("units", {}).get(k, ""))}
            for k, v in sorted({**detail.get("values", {}), **e2e}.items())
        },
        "samples": detail.get("samples", {}),
        "failed_checks": checks.messages,
    }
    print(json.dumps(detail_record))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
