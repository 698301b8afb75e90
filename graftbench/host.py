"""Process and host bookkeeping for one benchmark run, read from /proc.

- the run's own process tree (this interpreter, the Spark JVM it starts
  and that JVM's Python workers), its CPU time and the JVM's peak RSS;
- other Spark JVMs on the host, which a run flags because an overlapping
  run slows both by tens of percent;
- hypervisor steal over a window;
- shutting the JVM down and waiting until every process of the tree has
  exited.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, cmdline) for every readable process."""
    out: dict[int, tuple[int, str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except (OSError, ValueError, IndexError):
            continue
        out[int(entry)] = (ppid, cmd)
    return out


def descendants(root: int, procs: dict | None = None) -> list[int]:
    procs = procs if procs is not None else _processes()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _is_spark_jvm(cmd: str) -> bool:
    return "java" in cmd and "org.apache.spark" in cmd


def other_spark_jvms() -> int:
    """Spark JVMs alive on the host that this run did not start."""
    procs = _processes()
    mine = set(descendants(os.getpid(), procs))
    return sum(1 for pid, (_, cmd) in procs.items()
               if pid not in mine and _is_spark_jvm(cmd))


def tree_cpu_seconds() -> float:
    """User+system CPU of this process and every live descendant."""
    total = 0.0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += (int(fields[11]) + int(fields[12])) / CLK_TCK
        except (OSError, ValueError, IndexError):
            continue
    return total


def jvm_peak_rss_mb() -> float:
    """Largest VmHWM among this run's Spark JVMs (0 when none)."""
    procs = _processes()
    peak = 0.0
    for pid in descendants(os.getpid(), procs):
        if not _is_spark_jvm(procs[pid][1]):
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]) / 1024)
        except (OSError, ValueError):
            continue
    return peak


def cpu_times() -> list[int]:
    """The aggregate cpu line of /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total > 0 else 0.0


def stop_spark_and_wait(spark, timeout: float = 60.0) -> None:
    """Stop the session, close the JVM's stdin so it exits, and wait until
    every process of this run's tree has ended (killing stragglers)."""
    from pyspark import SparkContext
    tree = descendants(os.getpid())
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + timeout
    alive = [p for p in tree if _running(p)]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while alive and time.time() < deadline + timeout:
        time.sleep(0.05)
        alive = [p for p in alive if _running(p)]


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False
