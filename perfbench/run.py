"""Benchmark runner for pmcanalysis_spark.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see ``workloads.py``): ``kg_build``,
``kg_rescore``, ``kg_serve``. With ``--trace 0`` the end-to-end metrics are
measured; with ``--trace 1`` a separate traced run measures every layer
(``layers.py``) and writes its spans to ``.perfbench_work/traces/``.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. A failed check prints
``correct: false`` with no metrics and exits 1.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

T_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".perfbench_work")
SETUP_PASSES = 3
MAX_CORES = 4
MAX_HEAP_MB = 3072
STOP_GRACE_S = 20.0
PR_SET_CHILD_SUBREAPER = 36


def box_resources() -> tuple[int, int]:
    """(cores, driver heap MB): at most MAX_CORES cores and one fewer than the
    CPUs this process may use, at most a quarter of RAM.

    The spare CPU is for the driver, the JVM's GC and JIT threads and the
    machine's other load. Interleaved over five seeds on a shared 4-vCPU
    VM, local[3] read job_s with an inter-quartile spread of 0.08 where
    local[4] read 0.18 (kg_rescore), and 0.12 where it read 0.27
    (kg_build); the medians were within 5% of each other."""
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0)) - 1))
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return cores, min(MAX_HEAP_MB, total_kb // 4096)


def read_procs() -> dict[int, tuple[int, int, bool]]:
    """pid -> (parent pid, RSS kB, is a zombie) of every process on the machine."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        procs[int(entry)] = (int(fields["PPid"]), int(fields.get("VmRSS", "0 kB").split()[0]),
                             fields["State"].split()[0] == "Z")
    return procs


def descendants(root: int, procs: dict[int, tuple[int, int, bool]]) -> list[int]:
    """Every process below ``root`` in the process tree, zombies included."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def adopt_orphans() -> None:
    """Make this process, not init, the new parent of any descendant whose
    own parent ends first (a child of the JVM, as the JVM exits), so that
    stop_descendants() can wait for that one too."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def stop_descendants(grace_s: float = STOP_GRACE_S) -> int:
    """Wait until every process started below this one has ended and been
    reaped, killing what still runs after ``grace_s``. Returns how many were
    still running (not zombies) when called."""
    me = os.getpid()
    procs = read_procs()
    left = descendants(me, procs)
    running = sum(not procs[pid][2] for pid in left)
    deadline = time.monotonic() + grace_s
    while left:
        if time.monotonic() >= deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = descendants(me, read_procs())
    return running


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the JVM,
    its Python workers, the HTTP client), sampled every 0.2 s until stop().

    A descendant counts only once it has been seen in two samples in a row:
    a child the JVM has just vforked shares, and reports, the JVM's whole
    memory until it execs, which once read as 3 GB more than the tree held.
    """

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._halt = threading.Event()
        self._seen: set[int] = set()

    def tree_rss_kb(self, root: int) -> int:
        procs = read_procs()
        tree = descendants(root, procs)
        total = procs[root][1] + sum(procs[pid][1] for pid in tree if pid in self._seen)
        self._seen = set(tree)
        return total

    def run(self) -> None:
        while not self._halt.wait(0.2):
            self.peak_kb = max(self.peak_kb, self.tree_rss_kb(os.getpid()))

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_kb / 1024.0


def pin_environment(work: str, heap_mb: int) -> None:
    """Settings the JVM and its Python workers inherit."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def start_spark(work: str, cores: int, heap_mb: int, event_dir: str | None):
    from pmcanalysis_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        # the heap starts at full size: how far G1 grows it differs from run
        # to run, and that moved job_s by ~15% and peak RSS by ~50%
        "spark.driver.extraJavaOptions":
            f"-Xms{heap_mb}m -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM process has ended."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["kg_build", "kg_rescore", "kg_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; 'tiny' is for the benchmark's self-check")
    ap.add_argument("--plant-mismatch", action="store_true",
                    help="self-check: compare against a deliberately wrong expectation")
    return ap.parse_args(argv)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({"correct": correct, "attempted": max(attempted, 1),
                       "failed": failed, "metrics": metrics})


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pmcanalysis_spark", "__init__.py")):
        print(f"perfbench: no pmcanalysis_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    adopt_orphans()
    # a SIGTERM unwinds through the finally clauses, which stop Spark
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    cores, heap_mb = box_resources()
    work = os.path.join(WORK_BASE, f"{args.workload}-{os.getpid()}")
    pin_environment(work, heap_mb)
    try:
        return measure(args, work, cores, heap_mb)
    finally:
        left = stop_descendants()
        if left:
            print(f"perfbench: waited for {left} process(es) still running at the end",
                  file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str, cores: int, heap_mb: int) -> int:
    from perfbench import layers
    from perfbench.tracing import EventLog, Tracer
    from perfbench.workloads import WORKLOADS

    rss = RssSampler()
    rss.start()
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    spark = start_spark(work, cores, heap_mb, event_dir)
    session_s = time.perf_counter() - T_START
    w = None
    try:
        w = WORKLOADS[args.workload](spark, work, args.seed, args.size, cores)
        w.plant_mismatch = args.plant_mismatch
        tracer = Tracer(spark.sparkContext) if args.trace else None
        setup_times = []
        for _ in range(1 if args.trace else SETUP_PASSES):
            t0 = time.perf_counter()
            w.setup()
            setup_times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        w.warm()
        warm_s = time.perf_counter() - t0
        if args.trace:
            sweep = layers.Sweep(w, tracer)
            sweep.run()
        else:
            e2e = w.measure(args.seconds)
        # the workload's memory, not the oracle's
        peak_mb = rss.stop()
        mismatches = w.check()
    except Exception:
        traceback.print_exc()
        print(result_line(False, w.attempted if w else 1, (w.failed if w else 0) + 1, {}))
        return 1
    finally:
        if w is not None and hasattr(w, "stop"):
            w.stop()
        stop_spark(spark)
        rss.stop()

    info = {"workload": args.workload, "seed": args.seed, "cores": cores,
            "heap_mb": heap_mb, "session_s": session_s, "setup_passes_s": setup_times,
            "warmup_s": warm_s, **w.stats()}
    for m in mismatches:
        print(f"perfbench: {m}", file=sys.stderr)
    if args.trace:
        metrics = sweep.metrics(EventLog(event_dir), session_s)
        info["job_self_s"] = sweep.job_breakdown()
        tracer.write(os.path.join(WORK_BASE, "traces", f"{args.workload}-seed{args.seed}.json"))
    else:
        info.update({k: v for k, v in e2e.items() if k not in ("job_s", "items_per_s")})
        metrics = {
            "setup_s": {"value": statistics.median(setup_times), "unit": "s"},
            "job_s": {"value": e2e["job_s"], "unit": "s"},
            "items_per_s": {"value": e2e["items_per_s"], "unit": "1/s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    print(json.dumps({"info": info}))
    correct = not mismatches and w.failed == 0
    print(result_line(correct, w.attempted, w.failed, metrics if correct else {}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
