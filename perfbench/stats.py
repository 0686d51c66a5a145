"""Summary statistics and host annotations for the benchmark output."""

from __future__ import annotations

import os
import re
from pathlib import Path

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

TAIL_BEYOND = 10  # samples that must lie above the reported tail percentile


def tail(xs: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    beyond it: returns (value, percentile), or (None, None) when that
    percentile would not lie above the median (fewer than
    ``2 * TAIL_BEYOND + 2`` samples)."""
    s = sorted(xs)
    n = len(s)
    i = n - 1 - TAIL_BEYOND
    if 2 * i <= n - 1:
        return None, None
    return s[i], 100.0 * i / (n - 1)


def du(path: Path) -> tuple[int, int]:
    """Bytes and number of the files under ``path``."""
    files = [p for p in path.rglob("*") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


def check_names(names) -> None:
    bad = [n for n in names if not NAME_RE.match(n)]
    if bad:
        raise ValueError(f"invalid metric names: {bad}")


JIT_THREAD = re.compile(r"^C[12] CompilerThre")


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as fh:
            stat = fh.read()
    except OSError:  # exited while listing
        return None
    return [stat[stat.index("(") + 1:stat.rindex(")")]] + stat[stat.rindex(")") + 2:].split()


def tree_cpu_seconds(pid: int | None = None) -> tuple[float, float]:
    """CPU seconds (user + system) used so far by process ``pid`` (this
    one by default) and every live descendant, with the children they
    have reaped: this Python process, the Spark JVM and its Python
    workers. Returns (total, of which JVM JIT compiler threads)."""
    root = pid or os.getpid()
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        f = _stat_fields(f"/proc/{d}/stat") if d.isdigit() else None
        if f is not None:
            parent[int(d)] = int(f[2])
            ticks[int(d)] = int(f[12]) + int(f[13]) + int(f[14]) + int(f[15])
    total = jit = 0
    for p in ticks:
        q = p
        while q not in (root, 0, 1) and q in parent:
            q = parent[q]
        if q != root:
            continue
        total += ticks[p]
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            f = _stat_fields(f"/proc/{p}/task/{t}/stat")
            if f is not None and JIT_THREAD.match(f[0]):
                jit += int(f[12]) + int(f[13])
    hz = os.sysconf("SC_CLK_TCK")
    return total / hz, jit / hz


def steal_seconds() -> float | None:
    """Cumulative hypervisor steal of the whole box, in CPU seconds."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        if parts[0] == "cpu" and len(parts) > 8:
            return int(parts[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        pass
    return None


def host_marker() -> dict:
    """Load average and cumulative hypervisor steal. Recorded as
    annotations only: no run is retried or chosen because of them."""
    la1, la5, _ = os.getloadavg()
    return {"loadavg_1m": la1, "loadavg_5m": la5, "steal_cum_s": steal_seconds()}


def marker_delta(before: dict, after: dict) -> dict:
    steal = None
    if before["steal_cum_s"] is not None and after["steal_cum_s"] is not None:
        steal = after["steal_cum_s"] - before["steal_cum_s"]
    return {"loadavg_1m_before": before["loadavg_1m"],
            "loadavg_1m_after": after["loadavg_1m"], "steal_delta_s": steal}
