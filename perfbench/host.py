"""Host fit: cores, heap, the work directory, the one-JVM guard, and the
meter for memory and CPU time.

Everything the benchmark writes lives under one work directory inside
the checkout (``.perfbench_work/``), including Spark's local dirs, the
JVM temp dir and Python's temp files, so a run leaves nothing elsewhere.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

WORK_DIR_NAME = ".perfbench_work"
# Driver heap, fixed and pre-touched: the inputs are small, and a heap
# whose resident size depends on when the collector chose to grow it
# made the peak memory of identical runs differ by a fifth.  The young
# generation is fixed too, so the heap's peak use moves with what the
# program keeps alive, not with how the collector sized eden.
HEAP_MB = 1024
YOUNG_MB = 256
# the host must have this many times the heap available to start
HEADROOM = 4


class HostError(RuntimeError):
    """The host cannot run the benchmark safely right now."""


def cores() -> int:
    return len(os.sched_getaffinity(0))


def available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise HostError("MemAvailable missing from /proc/meminfo")


def heap_mb() -> int:
    avail = available_mb()
    if avail < HEADROOM * HEAP_MB:
        raise HostError(
            f"only {avail} MiB available; a {HEAP_MB} MiB driver heap "
            f"needs {HEADROOM * HEAP_MB} MiB"
        )
    return HEAP_MB


def spark_jvms() -> list[str]:
    """Command lines of live Spark JVMs.  The pattern is written
    ``jav[a]`` so it never matches the pgrep call itself."""
    out = subprocess.run(
        ["pgrep", "-a", "jav[a]"], capture_output=True, text=True
    ).stdout
    return [line for line in out.splitlines() if "spark" in line]


def require_no_spark_jvm(wait_s: float = 30.0) -> None:
    """Refuse to start while another Spark JVM is alive: two JVMs on
    this host would share its cores and memory and corrupt both runs.
    A JVM that is still shutting down gets ``wait_s`` to exit."""
    deadline = time.monotonic() + wait_s
    while True:
        live = spark_jvms()
        if not live:
            return
        if time.monotonic() > deadline:
            raise HostError(
                "another Spark JVM is running; stop it first:\n  "
                + "\n  ".join(c[:160] for c in live)
            )
        time.sleep(1.0)


def prepare_work_dir(root: str) -> str:
    """Fresh work directory for one run; env vars point every temp
    file of this process, the JVM and the Python workers into it."""
    work = os.path.join(root, WORK_DIR_NAME)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # fewer glibc malloc arenas: native memory that does not depend on
    # which threads happened to allocate
    os.environ["MALLOC_ARENA_MAX"] = "2"
    tempfile.tempdir = tmp  # in case the default was already resolved
    # the spark-submit launcher is a JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    # python workers import the product from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    return work


def session_conf(work: str, event_log: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": f"{heap_mb()}m",
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Xms{HEAP_MB}m -Xmn{YOUNG_MB}m -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "hadoop"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root_pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by
    N processes counted 1/N in each, so forked Python workers that
    share the daemon's pages are not counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(path: str, reaped: bool = True) -> int:
    """User + system time from a /proc stat file, with the time of
    reaped children if ``reaped``."""
    try:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15 if reaped else 13])


def _thread_ticks(pid: int, *names: str) -> int:
    """CPU time of the threads of ``pid`` whose names contain one of
    ``names``."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                name = f.read()
        except OSError:
            continue
        if any(n in name for n in names):
            ticks += _cpu_ticks(f"/proc/{pid}/task/{tid}/stat", False)
    return ticks


def _jit_ticks(pid: int) -> int:
    """CPU time of the JVM's JIT compiler threads.  They stay alive for
    the life of the JVM (``-XX:-UseDynamicNumberOfCompilerThreads``),
    so no compiler thread's time is lost when it exits."""
    return _thread_ticks(pid, "CompilerThre")


def heap_peak_mb(jvm) -> float:
    """Peak use of the JVM heap since it started: the sum of the heap
    pools' peaks (eden, survivor and old generation)."""
    mf = jvm.java.lang.management.ManagementFactory
    return sum(
        p.getPeakUsage().getUsed()
        for p in mf.getMemoryPoolMXBeans()
        if str(p.getType().toString()) == "Heap memory"
    ) / 2**20


class SpeedProbe:
    """The speed probe (``perfbench/probe.py``) in a process of its own,
    and the samples it has sent: (``time.perf_counter()``, CPU seconds
    of one fixed unit of work).  ``slowdown`` over a window is the mean
    unit cost in it, a tenth of the samples cut at each end, as a
    multiple of ``REF_UNIT_S``.  A mean, not a median: the unit costs
    fall in two clusters about 40% apart (a vCPU of the host runs at one
    speed or the other), and a median jumps between them as their mix
    changes while a mean follows the mix."""

    # the unit's CPU time on an unloaded vCPU of a 4-vCPU Xeon virtual
    # machine: the low end of its samples there
    REF_UNIT_S = 0.004

    def __init__(self, root: str):
        self.samples: list[tuple[float, float]] = []
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(root, "perfbench", "probe.py")],
            stdout=subprocess.PIPE, text=True,
        )
        self._thread = threading.Thread(target=self._read, daemon=True)
        self._thread.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            t, c = line.split()
            self.samples.append((float(t), float(c)))

    def slowdown(self, t0: float, t1: float) -> float:
        xs = [c for t, c in self.samples if t0 <= t <= t1]
        if not xs:  # a window shorter than the probe's period
            xs = [c for _, c in self.samples[-3:]]
        if not xs:
            raise HostError("the speed probe has sent no samples")
        xs.sort()
        cut = len(xs) // 10
        return statistics.fmean(xs[cut:len(xs) - cut]) / self.REF_UNIT_S

    def stop(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=10)
        self._thread.join(timeout=5)


class Meter:
    """Peak Pss and CPU time of a process tree (the JVM and its Python
    workers).  Pss is sampled from /proc on a daemon thread.
    CPU time also counts this (client) process, minus the sampler
    thread's own time.

    CPU seconds are the benchmark's steady cost measure: on a host whose
    CPUs are shared with other machines, the time a vCPU spends
    descheduled ("steal") lands in wall time but not in CPU time.  What
    the other machines' load still does to CPU time — a fixed amount of
    work takes longer on a core or cache they share — the ``probe``
    measures, and the gated figures are divided by its slowdown over
    their window.  They leave out the JIT compiler threads (``work_s``):
    how much they compile while an operation runs depends on timing,
    and their share of a warm-up-length run moves with host load."""

    def __init__(self, root_pid: int, probe: SpeedProbe,
                 period_s: float = 0.2):
        self.root_pid = root_pid
        self.probe = probe
        self.period_s = period_s
        self.peak_jvm_kb = 0
        self.peak_python_kb = 0  # of the Python workers together
        self.peak_workers = 0  # most Python processes alive at once
        self._sampler_cpu = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            pids = tree_pids(self.root_pid)  # the JVM first
            kb = [_pss_kb(p) for p in pids]
            self.peak_jvm_kb = max(self.peak_jvm_kb, kb[0])
            self.peak_python_kb = max(self.peak_python_kb, sum(kb[1:]))
            self.peak_workers = max(self.peak_workers, len(pids) - 1)
            self._sampler_cpu = time.thread_time()
            self._stop.wait(self.period_s)

    def parts(self) -> dict[str, float]:
        """CPU seconds so far by where they were spent: the JVM's JIT
        compiler and garbage collector threads, the rest of the JVM, its
        Python workers, and this process."""
        pids = tree_pids(self.root_pid)
        jvm = _cpu_ticks(f"/proc/{self.root_pid}/stat")
        jit = _jit_ticks(self.root_pid)
        gc = _thread_ticks(self.root_pid, "GC Thread", "G1 ")
        return {
            "jit": jit / _TICK, "gc": gc / _TICK,
            "jvm": (jvm - jit - gc) / _TICK,
            "python": sum(_cpu_ticks(f"/proc/{p}/stat") for p in pids
                          if p != self.root_pid) / _TICK,
            "client": time.process_time() - self._sampler_cpu,
        }

    def read(self) -> tuple[float, dict[str, float]]:
        """(``time.perf_counter()``, ``parts()``)."""
        return time.perf_counter(), self.parts()

    def work_s(self) -> float:
        """CPU seconds so far, JIT compilation left out."""
        parts = self.parts()
        return sum(parts.values()) - parts["jit"]

    def __enter__(self) -> "Meter":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_jvm_off_heap_mb(self) -> float:
        """The JVM's peak Pss outside its heap.  The heap is
        pre-touched, so all of it is resident and its size comes off
        exactly."""
        return self.peak_jvm_kb / 1024.0 - HEAP_MB
