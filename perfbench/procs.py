"""Process hygiene for the benchmark: a teardown that waits for the
Spark JVM and its Python workers to exit, and a /proc memory sampler over
the whole process tree."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(name)] = int(stat[stat.rindex(b")") + 2:].split()[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read()
    except OSError:
        return None


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver Python, the JVM, the Python workers), sampled every
    ``interval`` s. One sample of a multi-GB JVM's proportional set size
    takes ~15 ms of the driver's CPU, so the interval stays coarse.

    Each process counts its proportional set size, so pages a forked
    Python worker shares with its daemon count once. A process counts
    only once it was seen under the same name in the previous sample:
    a child between fork and exec still shows its parent's memory, and
    counting that transient would add the JVM's whole heap to one
    random sample."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def take_peak(self) -> int:
        """The peak in bytes since the previous call (or the start)."""
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def _loop(self) -> None:
        seen: set[tuple[int, str]] = set()
        while True:
            root = os.getpid()
            now = {(p, _comm(p)) for p in [root] + descendants(root)}
            total = sum(_pss_bytes(p) for p, c in now & seen if c is not None)
            with self._lock:
                self._peak = max(self._peak, total)
            seen = now
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_ticks() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies of the VM's CPUs so far, from
    /proc/stat. busy is time the CPUs ran code (user, nice, system, irq,
    softirq; guest time is already in user); steal is time the
    hypervisor gave this VM's vCPUs to other machines, which stretches
    wall time without adding busy time."""
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    busy = user + nice + system + irq + softirq
    return busy, steal, busy + idle + iowait + steal


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            return b") Z " not in f.read()  # a zombie has exited
    except OSError:
        return False


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the SparkContext, end its gateway JVM, and wait until the JVM
    and every process it started (Python daemon and workers) has exited,
    so the next ``get_spark()`` launches a fresh JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spawned = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
                try:
                    proc.wait(timeout)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in spawned) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in spawned:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in spawned):
        time.sleep(0.05)
