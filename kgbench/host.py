"""Host facts the benchmark sizes itself by and records beside each run."""

from __future__ import annotations

import hashlib
import os
from pathlib import Path
from time import perf_counter


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """Driver heap from physical memory: an eighth of it, 1g to 4g. The
    engine's 16g default does not fit a 15 GB host, and a heap the
    workloads fill keeps the process's peak RSS steady from run to run."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, phys // 8 // 2**30))}g"


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in Path("/proc").iterdir():
        if not entry.name.isdigit():
            continue
        try:
            stat = (entry / "stat").read_text()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(entry.name))
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant,
    with the children each has reaped. Time other tenants take from the
    host's cores is not in it, unlike wall time."""
    tree = _children()
    todo, ticks = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(tree.get(pid, []))
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Sum of the high-water RSS of this process and every descendant: the
    JVM, the PySpark daemon and its Python workers."""
    tree = _children()
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(tree.get(pid, []))
        try:
            status = Path(f"/proc/{pid}/status").read_text()
        except OSError:
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024


def cpu_control_mb_per_s(mb: int = 64) -> float:
    """Single-core sha256 throughput right now: a same-window control for
    how much CPU the host delivered, recorded, never used to discard runs."""
    block = bytes(range(256)) * 4096  # 1 MiB
    h = hashlib.sha256()
    start = perf_counter()
    for _ in range(mb):
        h.update(block)
    return mb / (perf_counter() - start)


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000


def jvm_jit_s(spark) -> float:
    """Time the JVM's JIT compiler threads have spent compiling, summed
    over the threads."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return bean.getTotalCompilationTime() / 1000
