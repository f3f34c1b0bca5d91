"""Host noise and memory readings from /proc and the repository's own
host probe (``bench.host_probe``)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from typing import Dict, List


def host_probe(root: str) -> dict:
    """Run ``bench.host_probe()`` in a child process so its 100 MB numpy
    buffers never count towards this process's peak memory; returns the
    probe plus the 1-minute load average read just before it."""
    load = os.getloadavg()[0]
    out = subprocess.run(
        [sys.executable, "-c",
         "import json, bench; print(json.dumps(bench.host_probe()))"],
        cwd=root, capture_output=True, text=True, timeout=60, check=True,
    )
    probe = json.loads(out.stdout.strip().splitlines()[-1])
    probe["load_1m"] = round(load, 2)
    return probe


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def descendants(pid: int) -> List[int]:
    """All live descendant pids of `pid` (one /proc scan)."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command name may contain spaces: fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(jvm_pid: int | None) -> dict:
    """Sum of VmHWM (peak resident set) over this driver, the JVM and the
    JVM's descendants (the Python worker daemon and its workers)."""
    pids = [os.getpid()]
    if jvm_pid:
        pids += [jvm_pid] + descendants(jvm_pid)
    per = {p: _status_kb(p, "VmHWM") for p in pids}
    return {
        "total_mb": sum(per.values()) / 1024.0,
        "driver_mb": per[os.getpid()] / 1024.0,
        "jvm_mb": per.get(jvm_pid, 0) / 1024.0 if jvm_pid else 0.0,
        "workers": len(pids) - (2 if jvm_pid else 1),
    }
