"""Benchmark entry point.

    python3 perfbench/run.py --workload table --seed 1 --seconds 15 --trace 0

Run from the repository root.  Builds its inputs from ``--seed``,
starts one Spark session pinned to ``local[<cores>]``, runs one warm-up
iteration, then measures as many iterations as make about ``--seconds``
seconds of work on a 4-core host (at least two).  Prints the figures
named in the repository's BENCHMARK.json as the last line of standard
output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer ones.  A traced run
measures each iteration once untraced and once traced, and compares the
two halves for the tracing overhead.  Exits 1 if an output check fails.

Everything the run writes goes under ``.perfbench_work/`` (deleted at
exit) and ``.perfbench_out/`` (span dumps) in the repository root.
"""

from __future__ import annotations

import argparse
import faulthandler
import importlib.util
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = len(os.sched_getaffinity(0))
# One shuffle partition per core: the package default (32) splits every
# shuffle of these small inputs into 32 tiny tasks on a 4-core host.
SHUFFLE_PARTITIONS = CORES
DRIVER_MEMORY = "3g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["table", "near_dup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure_env(work: str, trace: bool) -> None:
    """Session settings for this host, set before pyspark is imported;
    the package reads its own from the environment at import."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        # Spark's event log works offline only uncompressed and unrolled.
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # A fixed heap (initial = maximum): a heap that grows, and shrinks
    # after each full collection, makes collection cost differ per run.
    # No perf-data file: the JVM would write it under /tmp.
    args = (f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} "
            "-XX:-UsePerfData' ")
    args += " ".join(f"--conf {k}={v}" for k, v in conf.items())
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(SHUFFLE_PARTITIONS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        # Python workers import the package too.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYSPARK_SUBMIT_ARGS": args + " pyspark-shell",
    })


# ------------------------------------------------------------- processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [os.getpid() if root is None else root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class WorkerMemSampler(threading.Thread):
    """Peak memory of the Spark JVM's Python workers, summed, sampled
    every 0.5 s.  The JVM itself and this process are left out: the
    JVM's heap is measured by the harness, and this process holds the
    benchmark's own inputs and oracles.

    Only processes named ``python*`` count: a child the JVM has just
    spawned (for a shell command, say) shares the JVM's pages until it
    execs.  Each counts its proportional set size, so pages the forked
    workers share with their parent are counted once."""

    def __init__(self):
        super().__init__(daemon=True)
        self.jvm_pid: int | None = None
        self.peak = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        if self.jvm_pid is None:
            return
        total = 0
        for pid in descendants(self.jvm_pid):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if not f.read().startswith("python"):
                        continue
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_evt.wait(0.5):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def shutdown(spark) -> None:
    """Stop Spark, the JVM and every worker, and wait for each to end."""
    from pyspark import SparkContext

    procs = descendants()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception as e:  # the JVM may already be gone
            print(f"gateway shutdown: {e}", file=sys.stderr)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    while any(_alive(p) for p in procs):
        time.sleep(0.1)


# ------------------------------------------------------------- reporting


def summary(name: str, xs: list[float], unit: str = "s") -> str:
    """Median, sample count and the highest percentile with at least
    ten samples beyond it."""
    if not xs:
        return f"{name}: no samples"
    n = len(xs)
    line = f"{name}: median {statistics.median(xs):.4f} {unit}, n={n}"
    if n >= 21:
        p = int(100 * (n - 10) / n)
        q = sorted(xs)[max(0, int(p / 100 * n) - 1)]
        return line + f", p{p} {q:.4f} {unit}"
    return line + f", max {max(xs):.4f} {unit} (n<21: no tail percentile above p50)"


OP_NAMES = {
    "table": [("upsert_s", "upsert"), ("delete_s", "delete"), ("read_s", "read"),
              ("range_read_s", "range_read"), ("full_read_s", "full_read"),
              ("round_s", "round"), ("compact_s", "compact")],
    "near_dup": [("dedup_uniform_s", "dedup_uniform"), ("dedup_skew_s", "dedup_skew")],
}
MB = 2**20


def report(workload: str, h, parts: dict, mem: dict) -> None:
    print(f"== {workload}: cores={CORES} shuffle_partitions={SHUFFLE_PARTITIONS}")
    for k, v in parts.items():
        print(f"setup part {k}: {v:.4f} s")
    for k, v in mem.items():
        print(f"{k}: {v:.1f} MB")
    for name, kind in OP_NAMES[workload]:
        print(summary(name, h.samples.get(kind, [])))
    if workload == "table":
        # The read tail per read kind, and per churn round: each round
        # adds two delete files to the ones the reads must apply.
        for kind in ("range_read", "full_read"):
            xs = h.samples.get(kind, [])
            if xs:
                print(f"read_tail_s.{kind.split('_')[0]}: {max(xs):.4f} s (max of n={len(xs)})")
            for k in sorted(k for k in h.samples if k.startswith(kind + ".round")):
                print(summary(f"{kind}_s.{k.rpartition('.')[2]}", h.samples[k]))
    for k, xs in h.extra.items():
        if xs:
            print(f"{k}: median {statistics.median(xs):.6g}, n={len(xs)}")
    print(f"ops attempted={h.attempted} failed={h.failed}")


def bench_names(kind: str) -> list[str] | None:
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return [m["name"] for m in json.load(f)[kind]]


# ------------------------------------------------------------- main


def iterations(seconds: float, iteration_s: float) -> int:
    """Measured iterations for about ``seconds`` of work, at least two
    so that a median rests on more than one sample."""
    return max(2, math.ceil(seconds / iteration_s))


OUT = os.path.join(ROOT, ".perfbench_out")


# A run that has not ended by then is hung: it prints every thread's
# stack and exits non-zero, which also ends the JVM (its stdin closes).
WATCHDOG_S = 175


def main(argv=None) -> int:
    args = parse_args(argv)
    faulthandler.dump_traceback_later(WATCHDOG_S, exit=True)
    faulthandler.register(signal.SIGUSR1, all_threads=True)
    sys.path[:0] = [HERE, ROOT]
    # Fail fast, before any set-up, when the package is not beside us.
    # (Not imported yet: it reads its session settings at import.)
    spec = importlib.util.find_spec("ic_spark")
    if spec is None or not (spec.origin or "").startswith(ROOT + os.sep):
        print(f"ic_spark not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, bool(args.trace))
    sampler = WorkerMemSampler()
    sampler.start()
    spark = None
    try:
        import tracing
        import workloads

        t0 = time.perf_counter()
        from ic_spark import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        parts = {"session_start": time.perf_counter() - t0}
        sampler.jvm_pid = spark.sparkContext._gateway.proc.pid
        tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
        h = workloads.Harness(spark, work)
        wl = workloads.WORKLOADS[args.workload](h, args.seed)
        t0 = time.perf_counter()
        wl.build_inputs()
        parts["fixtures"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.iteration(measured=False)
        parts["warmup"] = time.perf_counter() - t0

        # A fixed iteration count, not a deadline: every run then takes
        # the same samples at the same point of the JVM's warm-up, on a
        # fast host or a slow one.
        untraced = h.samples

        def measure(traced: bool) -> None:
            if not traced:
                wl.iteration(measured=True)
                return
            h.samples, h.tracer = tracer.samples, tracer
            tracing.install(tracer)
            try:
                wl.iteration(measured=True)
            finally:
                tracer.unwrap()
                h.samples, h.tracer = untraced, None

        for i in range(iterations(args.seconds, wl.ITERATION_S)):
            if tracer is None:
                measure(False)
                continue
            # A traced run measures each iteration untraced and traced,
            # in the order ABBA..., so that both halves see the host at
            # the same speed and neither gets every first, still-warming
            # iteration.  The per-layer metrics come from the traced half.
            for traced in ((False, True) if i % 2 == 0 else (True, False)):
                measure(traced)
        if tracer is not None:
            h.samples = tracer.samples
        if hasattr(wl, "finish"):
            wl.finish()
        main_s = h.samples.get(wl.main, [])
        second_s = h.samples.get(wl.second, [])
        if not main_s or not second_s:
            h.check(False, "no successful op of the workload's main or second kind")
        if tracer is not None:
            os.makedirs(OUT, exist_ok=True)
            tracer.dump(os.path.join(OUT, f"{args.workload}-seed{args.seed}-spans.json"))
        h.settle()
        sampler.sample()
        mem = {"jvm_heap_retained_mb": h.heap_peak / MB,
               "jvm_nonheap_mb": h.nonheap_peak / MB,
               "python_workers_pss_mb": sampler.peak / MB}
        mem["peak_mem_mb"] = sum(mem.values())
        report(args.workload, h, parts, mem)
        shutdown(spark)
        spark = None

        if tracer is None:
            metrics = {
                "setup_s": (sum(parts.values()), "s"),
                "peak_mem_mb": (mem["peak_mem_mb"], "MB"),
                "main_op_s": (statistics.median(main_s) if main_s else 0.0, "s"),
                "second_op_s": (statistics.median(second_s) if second_s else 0.0, "s"),
            }
        else:
            groups = tracing.fold_event_log(os.path.join(work, "events"))
            lm = tracing.layer_metrics(tracer, groups)
            traced = statistics.median(main_s) if main_s else 0.0
            base_s = untraced.get(wl.main, [])
            baseline = statistics.median(base_s) if base_s else 0.0
            lm["trace.op_s"] = traced
            lm["trace.overhead_ratio"] = traced / baseline if baseline else 0.0
            units = tracing.units()
            metrics = {k: (v, units[k]) for k, v in lm.items()}
            print(f"tracing overhead: main op {traced:.4f} s traced (n={len(main_s)}) vs "
                  f"{baseline:.4f} s untraced (n={len(base_s)}), interleaved in this run")
        want = bench_names("per_layer" if args.trace else "end_to_end")
        if want is not None and sorted(want) != sorted(metrics):
            h.check(False, f"metric names differ from BENCHMARK.json: "
                           f"{sorted(set(want) ^ set(metrics))}")
        result = {
            "correct": not h.problems,
            "attempted": h.attempted,
            "failed": h.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        sampler.stop()
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
