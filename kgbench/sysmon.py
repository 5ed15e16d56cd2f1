"""Process-tree helpers read from /proc: peak RSS sampling, a host-speed
sidecar, and an orderly shutdown that waits for the Spark JVM and its
Python workers to exit."""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command field is parenthesised and may hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of the Spark driver JVM and every process
    below it (the Python worker daemon and its forked workers) on a
    background thread; `peak_mb` is the largest sum seen."""

    INTERVAL_S = 0.2

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pids = [self.jvm_pid, *descendants(self.jvm_pid)]
        self.peak = max(self.peak, sum(rss_bytes(p) for p in pids))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def host_speed() -> dict:
    """Single-thread time for a fixed integer loop: context for
    comparing runs taken at different times on a shared host."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i * i
    return {"int_loop_s": round(time.perf_counter() - t0, 4)}


def _wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive


def stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin (PySpark's signal for the
    gateway JVM to exit), and wait for the JVM and every process it
    started; anything still alive after the grace period is killed.
    A second call is a no-op."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    tree = descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - any failure here: kill
                proc.kill()
                proc.wait(timeout=10)
        for pid in _wait_gone(tree, 15):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _wait_gone(tree, 5)
        SparkContext._gateway = None
        SparkContext._jvm = None
