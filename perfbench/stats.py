"""Summary statistics and process memory for the benchmark."""

from __future__ import annotations

import os
import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


TAIL_BEYOND = 10


def tail(values: list[float]) -> dict:
    """The highest percentile of ``values`` that has at least TAIL_BEYOND
    samples above it: the (n - TAIL_BEYOND)-th smallest value, which is
    the ``100 * (n - TAIL_BEYOND) / n`` percentile. With TAIL_BEYOND or
    fewer samples no percentile qualifies; the maximum is returned and
    the record says how many samples lie beyond it (none)."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n <= TAIL_BEYOND:
        return {"value": s[-1], "percentile": 100.0, "samples": n, "beyond": 0}
    k = n - TAIL_BEYOND  # 1-based rank
    return {"value": s[k - 1], "percentile": round(100.0 * k / n, 2), "samples": n,
            "beyond": TAIL_BEYOND}


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat.
    Steal is time this machine's virtual CPUs were ready to run but the
    host ran something else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the Spark JVM, the Python
    worker daemon and its forked workers)."""
    seen: list[int] = []
    todo = _children(pid)
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.append(p)
            todo.extend(_children(p))
    return seen


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (``VmHWM``) of one process, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def peak_rss_mb(pid: int | None = None) -> dict[str, float]:
    """High-water resident sets (MB) of every process this one started:
    the driver JVM plus the Python workers, in total and by command name.
    Read before the Spark session stops, while the workers are alive."""
    root = os.getpid() if pid is None else pid
    by: dict[str, float] = {}
    for p in descendants(root):
        name = _comm(p)
        by[name] = by.get(name, 0.0) + vm_hwm_kb(p) / 1024.0
    return {"total": sum(by.values()), **by}
