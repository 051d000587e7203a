"""Session lifecycle, the timed loop and the end-to-end metrics.

One run = one process: start Spark at ``local[min(4, nproc)]``, generate the
workload's inputs (twice, for a steadier ``setup_s``), run untimed warm-up
passes, then timed passes until ``seconds`` have passed. Everything the run
writes lives under one temporary directory inside the checkout.
"""

from __future__ import annotations

import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import threading
import time

#: inputs are generated this many times; setup_s takes the median (the mean
#: of two: a third costs too much of the time one run may take)
SETUP_REPEATS = 2
#: at least this many timed passes, however long they take
MIN_PASSES = 5
#: a traced round is an untimed pass, a traced pass and a layer sweep
MIN_TRACED_ROUNDS = 2
MAX_CORES = 4
_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# host and process facts
# ---------------------------------------------------------------------------

def host_mem_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """A driver heap that fits the host: a quarter of its memory, 1-4 GB
    (the engine's own default of 24g exceeds small hosts)."""
    return f"{int(min(4, max(1, host_mem_mb() / 1024 // 4)))}g"


def _parents() -> dict[int, int]:
    """pid -> parent pid of every running process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we looked
            continue
        # the command name may hold spaces; fields resume after its ")"
        state, ppid = stat[stat.rindex(")") + 2:].split()[:2]
        if state != "Z":  # a zombie has ended and holds no memory
            out[int(d)] = int(ppid)
    return out


def descendants(pid: int) -> set[int]:
    parent = _parents()
    tree, frontier = set(), [pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def _tree_rss_bytes(pid: int, page: int) -> int:
    total = 0
    for p in descendants(pid) | {pid}:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


def cpu_seconds(pid: int) -> float:
    """CPU time (user + system) used so far by ``pid`` and its live
    descendants, including their reaped children. The kernel charges a
    process only for time it ran, so time stolen by the hypervisor from
    a shared host is not in it."""
    ticks = 0
    for p in descendants(pid) | {pid}:
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ticks += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])
    return ticks / _CLK_TCK


def steal_seconds() -> float:
    """Time the hypervisor has taken from this host's CPUs, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


class PeakMemory:
    """Samples the resident memory of this process and all its descendants
    (the JVM and the Python workers) from ``/proc``; keeps the peak of the
    whole run and the peak since the last ``restart_window()``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.window_peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def restart_window(self) -> None:
        with self._lock:
            self.window_peak = 0

    def _loop(self):
        while not self._stop.is_set():
            rss = _tree_rss_bytes(os.getpid(), self._page)
            with self._lock:
                self.peak = max(self.peak, rss)
                self.window_peak = max(self.window_peak, rss)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------

def configure_environment(root: str, tmp: str) -> dict:
    """Point every file Spark, the JVM and the Python workers write into
    ``tmp``, and size the driver for this host. Call before the JVM starts."""
    mem = driver_mem()
    jtmp = os.path.join(tmp, "java")
    os.makedirs(jtmp)
    os.environ.update(
        {
            "SPARK_DRIVER_MEM": mem,
            "SPARK_DRIVER_JAVA_OPTS": (
                f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={jtmp}"
            ),
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
            "TMPDIR": jtmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false "
                f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} "
                "pyspark-shell"
            ),
        }
    )
    return {"spark_driver_mem": mem}


def start_session(cores: int):
    from exactextractr_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def start_workers(spark, cores: int) -> None:
    """Run one trivial Arrow task per core so the Python workers exist."""
    import pandas as pd

    def ident(batches):
        for b in batches:
            yield pd.DataFrame({"id": b["id"]})

    spark.range(cores, numPartitions=cores).mapInPandas(ident, "id long").collect()


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until every child has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# run metadata
# ---------------------------------------------------------------------------

def source_version(root: str) -> dict:
    """The git commit when the checkout is a repository, else a digest of
    the engine's sources (a benchmark checkout need not carry ``.git``)."""
    import hashlib

    sha = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            sha = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=30, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            sha = None
    h = hashlib.sha256()
    files = [os.path.join(root, "__spark_entry__.py")]
    for d, _, names in sorted(os.walk(os.path.join(root, "exactextractr_spark"))):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for path in files:
        with open(path, "rb") as f:
            h.update(f.read())
    return {"git_sha": sha, "source_sha256": h.hexdigest()[:16]}


def metadata(spark, root: str, cores: int, env: dict) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "cores_used": cores,
        "host_mem_mb": round(host_mem_mb()),
        **env,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "jdk": jvm.java.lang.System.getProperty("java.version"),
        **source_version(root),
    }


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Tally:
    """Operations attempted and failed, with the first few failure reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def add(self, ops) -> None:
        for op in ops:
            self.attempted += 1
            if op.problems:
                self.failed += 1
                if len(self.reasons) < 10:
                    self.reasons.append(f"{op.name}: {'; '.join(op.problems)}")


def run(workload, root: str, tmp: str, seconds: float, trace: bool, env: dict) -> dict:
    """Run ``workload`` end to end and return its metrics and metadata."""
    from . import layers, workloads

    cores = min(MAX_CORES, os.cpu_count() or 1)
    tally = Tally()
    with PeakMemory() as mem:
        t0 = time.perf_counter()
        spark = start_session(cores)
        session_s = time.perf_counter() - t0
        try:
            t0 = time.perf_counter()
            start_workers(spark, cores)
            workers_s = time.perf_counter() - t0

            gen_s, sizes, previous = [], None, None
            for i in range(SETUP_REPEATS):
                inputs_dir = os.path.join(tmp, f"inputs-{i}")
                t0 = time.perf_counter()
                sizes = workload.prepare(spark, inputs_dir)
                gen_s.append(time.perf_counter() - t0)
                if previous:
                    shutil.rmtree(previous, ignore_errors=True)
                previous = inputs_dir

            t0 = time.perf_counter()
            for _ in range(workload.warmup_passes):
                tally.add(workloads.run_pass(workload, spark))
            warmup_s = time.perf_counter() - t0
            setup_s = session_s + workers_s + statistics.median(gen_s) + warmup_s

            tracer = layers.Tracer(spark) if trace else None
            passes, rounds = [], []  # per timed pass: its ops; per traced round
            cpu_s, steal_s = [], []  # per timed pass
            mem.restart_window()
            t_start = time.perf_counter()
            while (len(passes) < (MIN_TRACED_ROUNDS if trace else MIN_PASSES)
                   or time.perf_counter() - t_start < seconds):
                c0, st0 = cpu_seconds(os.getpid()), steal_seconds()
                ops = workloads.run_pass(workload, spark)
                cpu_s.append(cpu_seconds(os.getpid()) - c0)
                steal_s.append(steal_seconds() - st0)
                tally.add(ops)
                passes.append(ops)
                if tracer:
                    traced = tracer.traced_pass(spark, workload)
                    tally.add(traced)
                    collect_s = ops[0].seconds if workload.case_is_pass else None
                    rounds.append(
                        {"ops": traced, "sweep": layers.sweep(workload.case, collect_s)}
                    )
            measured_s = time.perf_counter() - t_start
            timed_peak = mem.window_peak
            meta = metadata(spark, root, cores, env)
            per_layer = layers.summarize(workload, passes, rounds) if trace else None
        finally:
            stop_session(spark)

    pass_s = [sum(op.seconds for op in ops) for ops in passes]
    by_op: dict[str, list[float]] = {}
    for ops in passes:
        for op in ops:
            by_op.setdefault(op.name, []).append(op.seconds)
    op_medians = {k: statistics.median(v) for k, v in by_op.items()}
    # the metrics BENCHMARK.json bounds. Pass times, wall or CPU, swing by a
    # fifth and more between quarter-hours on a shared host, so they are
    # printed but not bounded (README.md)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        # over the timed passes; the whole run's peak is in the details
        "peak_rss_mb": (timed_peak / 1e6, "MB"),
    }
    info = {
        "pass_s": (statistics.median(pass_s), "s"),
        # CPU is a cost, so it is the total over the timed passes, per pass
        "pass_cpu_s": (sum(cpu_s) / len(cpu_s), "s"),
    }
    if workload.unit == "tiles":
        info["tiles_per_s"] = (workload.items_per_pass / info["pass_s"][0], "1/s")
        info["tiles_per_cpu_s"] = (workload.items_per_pass / info["pass_cpu_s"][0], "1/s")
    else:
        info["query_geomean_s"] = (geomean(op_medians.values()), "s")
    return {
        "end_to_end": end_to_end,
        "info": info,
        "per_layer": per_layer,
        "tally": tally,
        "details": {
            "workload": workload.name,
            "seed": workload.seed,
            **meta,
            "inputs": sizes,
            "setup": {
                "session_s": session_s,
                "workers_s": workers_s,
                "generate_s": gen_s,
                "warmup_s": warmup_s,
            },
            "timed_passes": len(pass_s),
            "measured_s": measured_s,
            "unbounded": {k: v for k, (v, _) in info.items()},
            "run_peak_rss_mb": mem.peak / 1e6,
            "pass_s_all": pass_s,
            "pass_cpu_s_all": cpu_s,
            "pass_steal_s_all": steal_s,
            "op_median_s": op_medians,
            "failed_frac": tally.failed / max(1, tally.attempted),
            "failures": tally.reasons,
        },
    }
