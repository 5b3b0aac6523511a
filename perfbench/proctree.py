"""/proc readings for a benchmark process tree (Linux only).

The tree is the Spark client's Python process, its JVM and the JVM's
Python UDF workers. CPU time includes children already reaped.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None:
            children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def cpu_seconds(root: int) -> float:
    """user+sys seconds of the tree, reaped children included."""
    total = 0
    for pid in tree(root):
        if (st := _stat(pid)) is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def peak_rss_mb(root: int) -> float:
    """Sum over the tree of each live process's peak resident set."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return kb / 1024


def stop_gateway(timeout: float = 60) -> None:
    """Shut down PySpark's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout)


def tagged(marker: str) -> list[int]:
    """Live processes whose environment holds ``marker`` (``NAME=value``)."""
    needle = b"\0" + marker.encode() + b"\0"
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if needle in b"\0" + f.read() + b"\0":
                    out.append(int(d))
        except OSError:
            pass
    return out


def reap(marker: str, grace: float = 30) -> None:
    """Wait for every process carrying ``marker`` to end; kill stragglers."""
    deadline = time.time() + grace
    while (pids := tagged(marker)) and time.time() < deadline:
        time.sleep(0.2)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while tagged(marker) and time.time() < deadline + 10:
        time.sleep(0.1)
