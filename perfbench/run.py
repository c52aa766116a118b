#!/usr/bin/env python3
"""Replication benchmark for pipelinewise_spark.

    python3 perfbench/run.py --workload full_load --seed 1 --seconds 3 --trace 0

Runs from the root of a checkout. One process, one SparkSession on
``local[$SPARK_GRAFT_CPUS]`` (``local[*]`` when unset), one closed-loop
client. After set-up and untimed warm-up steps, steps repeat until
``--seconds`` have passed and the workload's minimum step count is reached.
Every target is then checked against a DuckDB computation over the same
inputs (untimed).

``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json, and
the ungated figures beside them.
``--trace 1`` runs half the time untraced and half with layer spans and a
Spark event log, and prints the per-layer metrics. Scratch files live under
``.perfbench_work/`` in the current directory and are removed at exit. The
last stdout line is one JSON object. The exit code is 1 when a check fails
and 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

import duckdb

import tracing
from workloads import WORKLOADS, dir_bytes

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

#: the consumer read repeats until it has run READ_REPS times and for
#: READ_SECONDS; its figures are medians
READ_REPS = 4
READ_SECONDS = 3.0


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=None,
                   help="input scale, 1.0 = TPC-H sf0.1 row counts "
                        "(default: the workload's SCALE)")
    return p.parse_args(argv)


#: units of every figure the untraced leg prints as ``name value unit``;
#: the JSON result carries only those BENCHMARK.json lists (see README.md
#: for why the others are not gated)
PRINTED_UNITS = {
    "setup_s": "s", "rows_per_s": "1/s", "cycle_p50_s": "s",
    "cycle_net_s": "s", "cycle_cpu_s": "s", "heap_alloc_mb": "MiB",
    "read_after_sync_s": "s", "read_after_sync_net_s": "s",
    "read_after_sync_cpu_s": "s", "target_bytes_per_row": "B",
    "peak_rss_mb": "MiB",
}


def listed_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit of the metrics BENCHMARK.json lists for this leg
    (per-layer with a trace, end-to-end without)."""
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def workdir(name: str) -> str:
    """A fresh scratch directory under the current directory; temp files of
    this process and of Spark go inside it."""
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{name}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    return work


def session(work: str, trace: bool):
    """(SparkSession, seconds to start it). Static confs such as the event
    log can only be set here, through ``get_spark(extra_conf=...)``."""
    from pipelinewise_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            # a fixed starting heap: G1's heap-growth timing otherwise moves
            # peak RSS by a third between identical runs
            "-Xms1g "
            # compiler threads stay alive, so their CPU can be left out of
            # cycle_cpu_s (see _cpu_s)
            "-XX:-UseDynamicNumberOfCompilerThreads "
            # C1 only: a run is too short for C2 to settle, and with it every
            # timed step sat on a warm-up curve whose slope moved with the
            # CPU the compiler threads got from the host
            "-XX:TieredStopAtLevel=1",
        "spark.driver.memory": "3g",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _rss_mb() -> tuple[float, float]:
    """(Spark JVM VmHWM, this interpreter's ru_maxrss) in MiB."""
    from pyspark import SparkContext

    jvm_kb = 0
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status",
              encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return jvm_kb / 1024.0, py_kb / 1024.0


def _cpu_s() -> float:
    """CPU seconds (user + system) used so far by the Spark JVM, less its
    JIT compiler threads, plus this interpreter. Unlike wall time this
    excludes time the hypervisor gives to other guests (steal); leaving out
    the compiler threads removes the JIT's varying warm-up work."""
    from pyspark import SparkContext

    def ticks(stat: str) -> int:
        utime, stime = stat.rsplit(")", 1)[1].split()[11:13]
        return int(utime) + int(stime)

    proc = f"/proc/{SparkContext._gateway.proc.pid}"
    with open(f"{proc}/stat", encoding="utf-8") as fh:
        total = ticks(fh.read())
    for tid in os.listdir(f"{proc}/task"):
        try:
            with open(f"{proc}/task/{tid}/stat", encoding="utf-8") as fh:
                stat = fh.read()
        except FileNotFoundError:  # the thread ended meanwhile
            continue
        if "Compiler" in stat.split("(", 1)[1].rsplit(")", 1)[0]:
            total -= ticks(stat)
    t = os.times()
    return total / os.sysconf("SC_CLK_TCK") + t.user + t.system


def _proc_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs so far, from /proc/stat."""
    with open("/proc/stat", encoding="utf-8") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal


def _alloc_bytes(spark) -> int:
    """Bytes the Spark JVM has allocated on its heap so far, all threads
    (ended ones too)."""
    return int(spark._jvm.java.lang.management.ManagementFactory
               .getThreadMXBean().getTotalThreadAllocatedBytes())


class Meter:
    """Measures a block: wall seconds; ``net_s``, the wall less the share of
    busy CPU time the hypervisor stole meanwhile (steal is the guest's
    runnable time given to other guests, so it lengthens every thread that
    wanted a CPU); CPU seconds (see ``_cpu_s``); and MiB of JVM heap
    allocated."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self) -> "Meter":
        self._a = _alloc_bytes(self.spark)
        self._p = _proc_ticks()
        self._c = _cpu_s()
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t
        self.cpu_s = _cpu_s() - self._c
        busy, stolen = (b - a for a, b in zip(self._p, _proc_ticks()))
        self.net_s = self.wall * (1.0 - stolen / max(busy + stolen, 1))
        self.alloc_mb = (_alloc_bytes(self.spark) - self._a) / 2**20


def _noop_s(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


@dataclass
class Read:
    seconds: float
    net_s: float
    cpu_s: float
    rows: int


def _consumer_read(spark, wl, tracer=None) -> Read:
    """A consumer aggregate over every target table. With a tracer, each
    table's read and aggregate run in a ``table.read`` span."""
    from pyspark.sql import functions as F

    rows = 0
    with Meter(spark) as m:
        for tbl in wl.targets().values():
            with (tracer.span("table.read") if tracer is not None
                  else contextlib.nullcontext()):
                df = tbl.read(spark)
                rows += df.agg(F.count(F.lit(1)),
                               F.sum(F.xxhash64(*df.columns) % 1_000_003)
                               ).first()[0]
    return Read(m.wall, m.net_s, m.cpu_s, rows)


@dataclass
class Step:
    rows: int
    seconds: float
    net_s: float
    cpu_s: float
    alloc_mb: float
    bytes_written: int = 0
    files_written: int = 0


def _leg(wl, seconds: float, min_steps: int, first: int,
         tracer=None) -> list[Step]:
    """Closed loop: steps back to back, each after an untimed full GC,
    until ``seconds`` have passed and ``min_steps`` ran. With a tracer, each
    step runs in a span and the bytes and files it adds under its target
    root are counted."""
    steps = []
    end = time.perf_counter() + seconds
    i = first
    while len(steps) < min_steps or time.perf_counter() < end:
        wl.stage(i)
        # each step starts on an empty young generation, so a collection
        # left over from the step before does not land in this one
        wl.spark._jvm.java.lang.System.gc()
        root = wl.step_root(i)
        counted = tracer is not None
        b0, f0 = dir_bytes(root) if counted and os.path.isdir(root) else (0, 0)
        with Meter(wl.spark) as m, (tracer.span("step") if counted
                                    else contextlib.nullcontext()):
            n = wl.step(i)
        step = Step(n, m.wall, m.net_s, m.cpu_s, m.alloc_mb)
        if counted:
            b1, f1 = dir_bytes(root)
            step.bytes_written, step.files_written = b1 - b0, f1 - f0
        steps.append(step)
        i += 1
    return steps


def _host() -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def _layer_metrics(spans, log_dir, window, traced, untraced, wl,
                   bytes_per_row) -> dict[str, float]:
    """Per-layer numbers per traced step; the read figures are per consumer
    read, and the ratios are ratios."""
    k = len(traced)
    raw = tracing.layer_metrics(spans, tracing.EventLog.read(log_dir), window)
    out = {name: v if name in tracing.PER_READ else v / k
           for name, v in raw.items()}
    written = sum(s.bytes_written for s in traced) / k
    out["table.bytes_written"] = written
    out["table.files_written"] = sum(s.files_written for s in traced) / k
    out["table.write_amplification"] = written / max(
        wl.changed_rows() * bytes_per_row, 1.0)
    out["sources.rows_in"] = traced[-1].rows
    out["sources.input_bytes"] = wl.input_bytes
    out["trace.overhead_ratio"] = (
        statistics.median(s.seconds for s in traced)
        / statistics.median(s.seconds for s in untraced))
    return out


def run(args) -> int:
    cls = WORKLOADS[args.workload]
    scale = args.scale or cls.SCALE
    work = workdir(f"{args.workload}-{args.seed}")
    spark = None
    try:
        t0 = time.perf_counter()
        spark, session_s = session(work, bool(args.trace))
        wl = cls(spark, work, args.seed, scale)
        t1 = time.perf_counter()
        wl.setup()
        t2 = time.perf_counter()
        # the traced leg compares its halves, so both must run warm
        n_warm = max(wl.WARM_STEPS, args.trace)
        warm = _leg(wl, 0.0, n_warm, first=1)
        setup_s = time.perf_counter() - t0

        first = 1 + n_warm
        if args.trace:
            half, n = args.seconds / 2, (wl.MIN_STEPS + 1) // 2
            steps = _leg(wl, half, n, first)
            tracer = tracing.Tracer(spark)
            tracing.install_layer_spans(tracer)
            try:
                window = [time.time()]
                traced = _leg(wl, half, n, first + len(steps), tracer)
                window.append(time.time())
                _consumer_read(spark, wl, tracer)
            finally:
                tracer.unwrap()
            prep_s = (wl.prepare_exec_s(_noop_s)
                      if hasattr(wl, "prepare_exec_s") else 0.0)
        else:
            steps, traced = _leg(wl, args.seconds, wl.MIN_STEPS, first), []

        reads = []
        while len(reads) < READ_REPS or sum(
                r.seconds for r in reads) < READ_SECONDS:
            reads.append(_consumer_read(spark, wl))
        bytes_per_row = wl.live_bytes() / max(reads[-1].rows, 1)
        jvm_mb, py_mb = _rss_mb()
        t3 = time.perf_counter()
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        mismatches = wl.check(con)
        con.close()
        t4 = time.perf_counter()
        stop(spark)
        spark = None
        t5 = time.perf_counter()

        if args.trace:
            values = _layer_metrics(
                tracer.spans, os.path.join(work, "eventlog"), window, traced,
                steps, wl, bytes_per_row)
            values["session.start_s"] = session_s
            values["sync.prepare_exec_s"] = prep_s
        else:
            values = {
                "setup_s": setup_s,
                "rows_per_s": statistics.median(s.rows / s.seconds
                                                for s in steps),
                "cycle_p50_s": statistics.median(s.seconds for s in steps),
                "cycle_net_s": statistics.median(s.net_s for s in steps),
                "cycle_cpu_s": statistics.median(s.cpu_s for s in steps),
                "heap_alloc_mb": statistics.median(s.alloc_mb for s in steps),
                "read_after_sync_s": statistics.median(
                    r.seconds for r in reads),
                "read_after_sync_net_s": statistics.median(
                    r.net_s for r in reads),
                "read_after_sync_cpu_s": statistics.median(
                    r.cpu_s for r in reads),
                "target_bytes_per_row": bytes_per_row,
                "peak_rss_mb": jvm_mb + py_mb,
            }
        listed = listed_units(bool(args.trace))
        unit = PRINTED_UNITS | listed
        failed = sum(1 for v in mismatches.values() if v)
        attempted = len(steps) + len(traced) + len(mismatches)
        timed = steps + traced
        print(f"# workload={args.workload} seed={args.seed} scale={scale} "
              f"trace={args.trace}")
        print("# inputs " + json.dumps(wl.describe()))
        print("# host " + json.dumps(_host()))
        print(f"# setup session={session_s:.3f} inputs+preload={t2 - t1:.3f} "
              "warm-up=" + ",".join(f"{s.seconds:.3f}" for s in warm))
        print(f"# timed steps={len(timed)} seconds=" + ",".join(
            f"{s.seconds:.3f}" for s in timed))
        print("# step net seconds=" + ",".join(f"{s.net_s:.3f}" for s in timed))
        print("# step cpu seconds=" + ",".join(f"{s.cpu_s:.3f}" for s in timed))
        print("# step heap MiB=" + ",".join(f"{s.alloc_mb:.1f}" for s in timed))
        print("# reads " + ",".join(f"{r.seconds:.3f}" for r in reads))
        print(f"# rss jvm={jvm_mb:.1f} python={py_mb:.1f}")
        print(f"# untimed check={t4 - t3:.3f} stop={t5 - t4:.3f}")
        print("# oracle mismatched rows " + json.dumps(mismatches))
        print(f"# ops_failed_ratio {failed / attempted:.4f} "
              f"({failed} of {attempted} steps and checks failed)")
        for name, v in sorted(values.items()):
            print(f"{name} {v:.6g} {unit[name]}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {name: {"value": values[name], "unit": u}
                        for name, u in listed.items()},
        }))
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, REPO)
    try:
        import pipelinewise_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {REPO}: {exc}",
              file=sys.stderr)
        return 2
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
