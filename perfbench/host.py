"""Host stamp and process bookkeeping for one benchmark run.

Everything here reads ``/proc`` and ``os`` (and runs ``java -version``
once): no Spark, no files outside the run.  A stamp is taken at the start
and at the end of a run; artifacts are comparable only when their ``nproc``
agrees.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import threading
import time
from typing import Dict, List, Optional

#: Marker passed to the benchmark's JVM (``-D<marker>=<run id>``) so a run
#: can recognise a JVM left behind by an earlier run.
JVM_MARKER = "-Dperfbench.run="


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_jiffies() -> Dict[str, int]:
    """The aggregate ``cpu`` line of /proc/stat: total and steal jiffies."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()[1:]
    vals = [int(v) for v in fields]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user, so it is left out of the total
    return {"total": sum(vals[:8]), "steal": vals[7] if len(vals) > 7 else 0}


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def java_version() -> str:
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    try:
        out = subprocess.run(
            [java, "-XX:-UsePerfData", "-version"], capture_output=True, text=True, timeout=30
        ).stderr
    except (OSError, subprocess.TimeoutExpired) as e:
        return f"unknown ({e.__class__.__name__})"
    return out.splitlines()[0].strip() if out else "unknown"


def stamp(run_dir: str) -> dict:
    """One host snapshot: CPU count, load, steal counters, free space where
    the run writes."""
    du = shutil.disk_usage(run_dir)
    return {
        "t": time.time(),
        "nproc": nproc(),
        "loadavg_1m": loadavg_1m(),
        "cpu_jiffies": cpu_jiffies(),
        "run_dir_free_mb": round(du.free / 2**20, 1),
    }


def steal_frac(start: dict, end: dict) -> float:
    a, b = start["cpu_jiffies"], end["cpu_jiffies"]
    total = b["total"] - a["total"]
    return (b["steal"] - a["steal"]) / total if total > 0 else 0.0


# -- processes -----------------------------------------------------------


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _pids() -> List[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def marked_jvms() -> List[int]:
    """Live JVMs started by any run of this benchmark."""
    return [p for p in _pids() if JVM_MARKER in _cmdline(p)]


def descendants(root: int) -> List[int]:
    """``root`` and every live process below it."""
    children: Dict[int, List[int]] = {}
    for p in _pids():
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(p)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def wait_gone(pids: List[int], timeout: float) -> List[int]:
    """Wait until none of ``pids`` is alive; returns the ones still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive


class RssSampler:
    """Peak resident memory of the JVM and its Python workers: the sum of
    each process's own high-water mark (``VmHWM``).

    A daemon thread looks for new processes below the JVM every
    ``interval`` seconds and keeps the largest ``VmHWM`` seen for each, so
    a spike between samples still counts, and a worker that has exited
    keeps its peak.  The sum bounds the simultaneous peak from above; it
    does not depend on when the samples fall, which a sum of ``VmRSS``
    samples does."""

    def __init__(self, jvm_pid: int, interval: float = 0.25):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.hwm_kb: Dict[int, int] = {}
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _sample(self) -> None:
        for p in descendants(self.jvm_pid):
            self.hwm_kb[p] = max(self.hwm_kb.get(p, 0), _status_kb(p, "VmHWM"))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stops sampling; returns the peak in MiB."""
        if self._thread is not None:
            self._stop.set()
            self._thread.join(timeout=5)
            self._thread = None
        self._sample()
        return sum(self.hwm_kb.values()) / 1024.0
