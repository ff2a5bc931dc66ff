"""Process hygiene: become a subreaper, stop the JVM cleanly, and prove
that no descendant process is left when the benchmark ends. Also reads the
JVM's live heap before it is stopped."""

from __future__ import annotations

import ctypes
import gc
import os
import signal
import time

_PR_SET_CHILD_SUBREAPER = 36
# how long descendants may take to exit once the JVM has been stopped
GRACE_S = 10.0
# full JVM collections before the live heap is read
GC_ROUNDS = 3


def become_subreaper() -> None:
    """Orphaned grandchildren (Spark's Python workers, the launcher) are
    re-parented to this process instead of PID 1, so they stay visible as
    descendants and can be reaped here."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 overall: starttime
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    rest = raw.rsplit(")", 1)[1].split()
    return int(rest[1]), comm, rest[0]  # ppid, comm, state


def descendants() -> list[tuple[int, str, str]]:
    """``(pid, comm, state)`` of every live or zombie descendant of this
    process."""
    root = os.getpid()
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[str, str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        children.setdefault(st[0], []).append(int(name))
        info[int(name)] = (st[1], st[2])
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        if pid in info:
            out.append((pid, *info[pid]))
        todo.extend(children.get(pid, []))
    return sorted(out)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_spark(spark) -> None:
    """Stop the session, close the py4j gateway, close the JVM's stdin and
    wait for the JVM to exit. ``spark.stop()`` alone leaves the JVM running
    after the Python process is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    jvm_proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if jvm_proc is not None:
        if jvm_proc.stdin is not None:
            jvm_proc.stdin.close()
        jvm_proc.wait(timeout=15)


def assert_no_descendants() -> None:
    """Reap finished descendants; if any is still alive after ``GRACE_S``,
    kill and reap it, then raise."""
    deadline = time.monotonic() + GRACE_S
    while True:
        _reap()
        left = descendants()
        if not left or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    if not left:
        return
    for pid, _, _ in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    end = time.monotonic() + 10.0
    while descendants() and time.monotonic() < end:
        _reap()
        time.sleep(0.05)
    raise RuntimeError(f"descendant processes outlived the run: {left}")


def jvm_live_heap_mb(spark) -> float:
    """The JVM's heap in use after full collections, in MB: what the
    session still holds once the workload's operations are done.

    Python's collector runs first, so that dead py4j proxies release the
    JVM objects they pin. Each JVM collection lets Spark's context cleaner
    drop the broadcasts and shuffles it found unreachable; the next one
    frees their blocks."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    for _ in range(GC_ROUNDS):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getUsed() / 2**20
