"""Host receipts and process memory, read straight from /proc.

Every run records the machine it ran on so that a slow reading carries
its own explanation: core count, load, hypervisor steal during the run,
other JVMs competing for the cores, and the software versions.
"""

from __future__ import annotations

import os
import subprocess


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def steal_ticks() -> int:
    """Cumulative steal time of all CPUs (the 8th value of the `cpu`
    line of /proc/stat, in clock ticks)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return []


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every visible process."""
    out: dict[int, tuple[int, str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm is parenthesised and may itself contain spaces
        lpar, rpar = stat.index("("), stat.rindex(")")
        comm = stat[lpar + 1 : rpar]
        ppid = int(stat[rpar + 2 :].split()[1])
        out[int(name)] = (ppid, comm)
    return out


def java_pids() -> list[int]:
    return [pid for pid, (_, comm) in _proc_table().items() if comm == "java"]


def descendants(root: int) -> list[int]:
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size of one process (VmHWM), 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Summed VmHWM of this Python driver, the driver JVM and every
    process below the JVM (the Python worker daemon and its workers)."""
    pids = {os.getpid(), jvm_pid, *descendants(jvm_pid)}
    return sum(vm_hwm_kb(p) for p in pids) / 1024.0


def git_commit(root: str) -> str:
    try:
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return r.stdout.strip() if r.returncode == 0 else "unknown"


class Receipts:
    """Collects the host receipts of one run: call `before_session`
    before the JVM exists (so every java process seen is a co-tenant),
    `with_session` once it does, and `finish` at the end."""

    def __init__(self, root: str):
        self.data: dict = {
            "nproc": nproc(),
            "loadavg_start": loadavg(),
            "git_commit": git_commit(root),
        }
        self._steal0 = steal_ticks()

    def before_session(self) -> None:
        self.data["cotenant_jvms"] = len(java_pids())

    def with_session(self, spark) -> None:
        jvm = spark._jvm
        self.data["spark_version"] = spark.version
        self.data["java_version"] = str(jvm.System.getProperty("java.version"))

    def finish(self) -> dict:
        self.data["loadavg_end"] = loadavg()
        self.data["steal_ticks"] = steal_ticks() - self._steal0
        return self.data
