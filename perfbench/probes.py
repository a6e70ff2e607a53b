"""Measurement probes the benchmark attaches to a run from outside the
program: CPU time and a memory sampler for the process tree, a Spark
listener that records task metrics by span, and an in-memory span log
written out when the run ends; and the stop of the process tree when the
run ends."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import threading
import time
from contextlib import contextmanager


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
        # the command name may hold spaces: ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """The live descendants of ``root``, ``root`` not included."""
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _running(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended."""
    try:
        stat = _read(f"/proc/{pid}/stat")
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_tree(jvm: subprocess.Popen | None, grace_s: float = 20.0) -> None:
    """Stop every process this one started and wait until each has ended.

    The Spark JVM (``jvm``) exits by itself when its standard input
    closes, which otherwise happens only as this process exits -- the JVM
    would outlive it. Its descendants (the Python worker daemon and the
    workers) are listed first, because once their parent ends they are no
    longer in this process's tree; whatever of them is left after the JVM
    ends gets SIGTERM, then SIGKILL."""
    me = os.getpid()
    pids = set(descendants(me))
    if jvm is not None:
        if jvm.stdin is not None:
            try:
                jvm.stdin.close()
            except OSError:
                pass
        try:
            jvm.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = {p for p in pids | set(descendants(me)) if _running(p)}
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s / 2
        while pids and time.monotonic() < deadline:
            _reap()
            pids = {p for p in pids if _running(p)}
            time.sleep(0.05)
    _reap()
    if pids:
        raise RuntimeError(f"processes {sorted(pids)} did not end")


def _reap() -> None:
    """Collect the exit status of this process's ended children."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def _resident_bytes(pid: int) -> int:
    """Proportional set size, so pages the forked Python workers share
    with their daemon count once -- except for the JVM, which shares
    nothing and whose page tables are too large to walk several times a
    second: its resident set."""
    with open(f"/proc/{pid}/comm") as f:
        jvm = f.read().strip() == "java"
    if jvm:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE_BYTES
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its live descendants."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _resident_bytes(pid)
        except OSError:
            continue
    return total


TICKS = os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # names cut to 15 chars


def _cpu_ticks(stat: str, children: bool) -> int:
    fields = stat[stat.rindex(")") + 2:].split()
    # utime stime, then cutime cstime (children reaped by this process)
    return sum(int(v) for v in fields[11:15 if children else 13])


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def cpu_snapshot(root: int, skip_tid: int | None = None) -> tuple[int, dict]:
    """CPU clock ticks (user + system) used so far by ``root`` and its
    live descendants, including children they have reaped; and, by
    thread, the ticks of the threads :func:`cpu_seconds` leaves out: the
    JVM's JIT compiler threads and ``skip_tid`` of ``root``. Time the
    hypervisor took from the virtual CPUs (steal) is in neither."""
    kids = _children()
    total, left_out, todo = 0, {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _cpu_ticks(_read(f"/proc/{pid}/stat"), children=True)
            jvm = _read(f"/proc/{pid}/comm").strip() == "java"
            tids = os.listdir(f"/proc/{pid}/task") if jvm else []
        except OSError:
            continue
        for tid in tids:
            try:
                stat = _read(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if stat[stat.index("(") + 1:stat.rindex(")")] in JIT_THREADS:
                left_out[int(tid)] = _cpu_ticks(stat, children=False)
    if skip_tid is not None:
        left_out[skip_tid] = _cpu_ticks(_read(f"/proc/{root}/task/{skip_tid}/stat"),
                                        children=False)
    return total, left_out


def cpu_seconds(before: tuple[int, dict], after: tuple[int, dict]) -> float:
    """CPU seconds between two snapshots, less what the left-out threads
    used meanwhile. JIT compilation is left out because how much of it
    falls into a pass is a matter of timing: on a warm JVM it still
    varies from 0.8 to 1.7 s per pass against about 6 s for the rest."""
    left_out = sum(t - before[1].get(tid, 0) for tid, t in after[1].items())
    return (after[0] - before[0] - left_out) / TICKS


def steal_ticks() -> tuple[int, int]:
    """(steal, all) clock ticks of the machine's CPUs so far."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


class RssSampler:
    """Samples the tree's resident memory on a daemon thread; ``peak``
    is the largest sample since the last ``reset``. A sample costs about
    20 ms of CPU; ``tid`` is the thread, so that CPU counts can leave it
    out."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self.tid: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        self.tid = threading.get_native_id()
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        self.peak = 0

    def __enter__(self) -> RssSampler:
        self._thread.start()
        while self.tid is None:
            time.sleep(0.01)
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class TaskListener:
    """A ``SparkListenerInterface`` implemented in Python over py4j.

    Each finished task becomes one row of its metrics in :attr:`tasks`,
    labelled with :attr:`label`, the span open when it ended. (The job description
    cannot serve as the label: the program sets its own for the jobs of
    ``CheckpointedExtractJob``.) Events arrive on the listener-bus
    thread."""

    def __init__(self):
        self._lock = threading.Lock()
        self.tasks: list[dict] = []
        self.jobs: list[str] = []
        self.label = ""

    def onJobStart(self, event):  # noqa: N802 (JVM interface name)
        with self._lock:
            self.jobs.append(self.label)

    def onTaskEnd(self, event):  # noqa: N802
        m = event.taskMetrics()
        if m is None:
            return
        sw, sr = m.shuffleWriteMetrics(), m.shuffleReadMetrics()
        row = {
            "stage": int(event.stageId()),
            "desc": self.label,
            "duration_ms": int(event.taskInfo().duration()),
            "run_ms": int(m.executorRunTime()),
            "cpu_ns": int(m.executorCpuTime()),
            "gc_ms": int(m.jvmGCTime()),
            # bytesRead undercounts when a Python UDF consumes the scan
            # (the file system counts bytes per reading thread)
            "input_records": int(m.inputMetrics().recordsRead()),
            "shuffle_write_bytes": int(sw.bytesWritten()),
            "shuffle_write_records": int(sw.recordsWritten()),
            "shuffle_read_bytes": int(sr.totalBytesRead()),
            "spill_bytes": int(m.memoryBytesSpilled()) + int(m.diskBytesSpilled()),
            "output_bytes": int(m.outputMetrics().bytesWritten()),
        }
        with self._lock:
            self.tasks.append(row)

    def __getattr__(self, name):
        # every other listener event is a no-op; py4j resolves callback
        # methods by name, so one catch-all covers the interface
        return lambda *args, **kwargs: None

    def rows(self, desc: str) -> list[dict]:
        with self._lock:
            return [t for t in self.tasks if t["desc"] == desc]

    def job_count(self, desc: str) -> int:
        with self._lock:
            return sum(1 for d in self.jobs if d == desc)

    class Java:
        implements = ["org.apache.spark.scheduler.SparkListenerInterface"]


class Tracer:
    """Tags the Spark jobs of each span with its name and records their
    tasks with a :class:`TaskListener`; spans stay in memory until
    :meth:`write`.

    The listener stays registered for the session's lifetime:
    ``removeSparkListener`` cannot match a py4j proxy (each call makes a
    new JVM proxy), so a Python listener once added is never removed.
    Untraced work must therefore run before the tracer is made."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        ensure_callback_server_started(self.sc._gateway)
        self.listener = TaskListener()
        self.sc._jsc.sc().addSparkListener(self.listener)
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Label the listener's rows and the Spark jobs
        (``setJobDescription``) with ``name`` while open; yields the span
        record, whose ``end_s`` is set on exit."""
        self.listener.label = name
        self.sc.setJobDescription(name)
        record = {"name": name, "start_s": time.monotonic()}
        try:
            yield record
        finally:
            record["end_s"] = time.monotonic()
            self.settle()  # late listener events still belong to this span
            self.listener.label = ""
            self.sc.setJobDescription(None)
            self.spans.append(record)

    def settle(self, quiet_s: float = 0.3, timeout_s: float = 5.0) -> None:
        """Wait until the asynchronous listener bus stops delivering tasks."""
        deadline = time.monotonic() + timeout_s
        seen = -1
        while time.monotonic() < deadline and seen != len(self.listener.tasks):
            seen = len(self.listener.tasks)
            time.sleep(quiet_s)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "tasks": self.listener.tasks}, f)
