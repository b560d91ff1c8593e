"""Process-level readings from ``/proc`` for the Spark JVM and its Python
workers: peak resident memory and Python CPU time.

The JVM is the process PySpark launched for the gateway; in local mode the
Python workers (the ``pyspark.daemon`` and the workers it forks) are its
descendants.  Nothing here talks to Spark, so reading it costs no py4j call.
"""

from __future__ import annotations

import os
from pathlib import Path

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of ``/proc/<pid>/stat``; None if gone."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # comm may hold spaces and parentheses: it ends at the last ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    return comm, raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat_fields(int(entry))
        if st is not None:
            children.setdefault(int(st[1][1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def python_worker_cpu_s(jvm_pid: int) -> float:
    """User + system CPU seconds of the JVM's Python descendants, including
    workers that already exited and were reaped by the daemon."""
    total = 0
    for pid in descendants(jvm_pid):
        st = _stat_fields(pid)
        if st is None or pid == jvm_pid or not st[0].startswith("python"):
            continue
        # fields after comm: utime, stime, cutime, cstime are 12..15
        total += sum(int(x) for x in st[1][11:15])
    return total / _TICKS


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of the peak resident set (``VmHWM``) of the JVM and its live
    descendants, in MiB.  Summing per-process peaks bounds the joint peak
    from above; the JVM dominates it."""
    kib = 0
    for pid in descendants(jvm_pid):
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    kib += int(line.split()[1])
                    break
        except OSError:
            continue
    return kib / 1024.0
