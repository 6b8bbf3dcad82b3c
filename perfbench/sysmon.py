"""Host and process-tree probes read from ``/proc``.

Everything here is a plain read of kernel counters: CPU ticks of a
process tree (the driver, its JVM and the Python UDF workers the JVM
forks), per-process peak resident memory, and the host-wide steal and
iowait ticks plus load average that identify a noisy sample.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces; the fields after it start past the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def tree_cpu(root: int) -> dict[str, float]:
    """User + system CPU seconds of the tree rooted at ``root``, split
    into the driver (root), the JVM and the Python processes under the
    JVM (UDF daemon and workers). Reaped children count through their
    parent's cutime/cstime, so the totals only grow."""
    out = {"driver": 0.0, "jvm": 0.0, "python_udf": 0.0}
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is None:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5);
        # ``fields`` starts at field 3
        secs = sum(int(x) for x in fields[11:15]) / CLK_TCK
        if pid == root:
            out["driver"] += secs
        elif _is_java(pid):
            out["jvm"] += secs
        else:
            out["python_udf"] += secs
    out["total"] = out["driver"] + out["jvm"] + out["python_udf"]
    return out


def tree_peak_rss_mb(root: int) -> float:
    """Sum over the live tree of each process's peak resident set
    (VmHWM). It bounds the tree's peak from above and, unlike sampling,
    misses no short spike."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def host_ticks() -> dict[str, int]:
    """Host-wide cumulative CPU ticks from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    names = ("user", "nice", "system", "idle", "iowait", "irq",
             "softirq", "steal")
    return dict(zip(names, vals))


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class Contention:
    """Steal and iowait tick deltas and the load average around one
    sample — recorded beside the sample, never used to drop it."""

    def __enter__(self):
        self._t0 = host_ticks()
        return self

    def __exit__(self, *exc):
        t1 = host_ticks()
        total = sum(t1.values()) - sum(self._t0.values())
        self.record = {
            "steal_ticks": t1["steal"] - self._t0["steal"],
            "iowait_ticks": t1["iowait"] - self._t0["iowait"],
            "total_ticks": total,
            "loadavg_1m": loadavg(),
        }
        return False


def dir_mb(path: str) -> float:
    """Bytes under ``path`` in MiB (regular files, not following links)."""
    n = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                n += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                continue
    return n / (1024.0 * 1024.0)
