"""Process and box probes read from ``/proc``: CPU seconds of a process
tree, the JVM's peak RSS, and the environment stamp printed next to the
metrics."""

from __future__ import annotations

import os
import tempfile
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, list[str]]:
    """stat(5) fields after ``comm`` for every live process."""
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # the process exited between listing and reading
            continue
        # comm may hold spaces or parentheses; fields resume after the last ')'
        stats[int(name)] = raw[raw.rindex(")") + 2:].split()
    return stats


def descendants(root: int, stats: dict[int, list[str]] | None = None) -> list[int]:
    """Live descendants of ``root``."""
    stats = _proc_stats() if stats is None else stats
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and every live descendant,
    plus what they already collected from reaped children.  Deltas of
    this value are exact even when workers exit in between: a reaped
    child's total moves into its parent's ``cutime``/``cstime``."""
    stats = _proc_stats()
    # utime, stime, cutime, cstime are fields 14-17 of stat(5)
    ticks = sum(int(x) for pid in [root, *descendants(root, stats)]
                for x in stats.get(pid, ())[11:15])
    return ticks / _CLK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the box since boot, from ``/proc/stat``:
    the share of steal between two readings is the CPU time the
    hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return sum(f[:8]), f[7]


def cpu_probe(n: int = 5_000_000) -> float:
    """Seconds a fixed pure-Python loop takes: a box-speed stamp that no
    change to the program can move."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return time.perf_counter() - t0


def io_probe(files: list[str], write_dir: str, write_mb: int = 64) -> dict:
    """Sequential read of ``files`` as the page cache stands, an
    immediate re-read, and a ``write_mb`` write+fsync into ``write_dir``
    (the filesystem Spark's local dir lives on)."""

    def read_all() -> float:
        nbytes, t0 = 0, time.perf_counter()
        for p in files:
            with open(p, "rb") as fh:
                while chunk := fh.read(1 << 22):
                    nbytes += len(chunk)
        return nbytes / (1 << 20) / (time.perf_counter() - t0)

    first, again = read_all(), read_all()
    blk = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    with tempfile.NamedTemporaryFile(dir=write_dir) as tf:
        for _ in range(write_mb):
            tf.write(blk)
        tf.flush()
        os.fsync(tf.fileno())
    return {
        "read_mb_s_first": round(first, 1),
        "read_mb_s_again": round(again, 1),
        "write_mb_s": round(write_mb / (time.perf_counter() - t0), 1),
    }
