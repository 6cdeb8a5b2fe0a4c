"""Host-side helpers: the frozen drift gauge, system CPU accounting and a
/proc sampler of the Spark Python workers' peak memory."""

from __future__ import annotations

import os
import threading
import time


def host_control_ms(units: int = 40) -> float:
    """Frozen stdlib single-thread workload, byte-for-byte the gauge
    ``bench.py`` prints as ``control_ms_per_doc``.  It moves with the host,
    never with the code under test, so it is printed beside every run as a
    diagnostic and is not a gated metric."""
    import hashlib
    import zlib

    block = bytes(range(256)) * 256  # 64 KiB, constant forever
    best = None
    for _ in range(3):
        t0 = time.monotonic()
        acc = 0
        for i in range(units):
            h = hashlib.sha256(block).digest()
            z = zlib.compress(block, 6)
            acc += h[0] + len(z)
            for j in range(20_000):
                acc += j & 7
        dt = (time.monotonic() - t0) * 1000.0 / units
        best = dt if best is None or dt < best else best
    return round(best, 4)


def cpu_ticks() -> dict:
    """System-wide CPU time since boot from the first line of /proc/stat,
    in clock ticks: ``busy`` (user, nice, system, irq, softirq), ``idle``
    (idle, iowait) and ``steal`` (time the hypervisor gave this machine's
    virtual CPUs to someone else)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return {"busy": v[0] + v[1] + v[2] + v[5] + v[6], "idle": v[3] + v[4], "steal": v[7]}


def cpu_shares(before: dict, after: dict) -> dict:
    """Busy, idle and steal as shares of all CPU ticks between two
    ``cpu_ticks`` readings."""
    d = {k: after[k] - before[k] for k in before}
    total = sum(d.values()) or 1
    return {k: round(v / total, 4) for k, v in d.items()}


def _children_map() -> dict:
    """{ppid: [pid, ...]} over every process visible in /proc."""
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parens: split after the last ')'
        fields = stat[stat.rfind(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(pid: int) -> list:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def python_worker_pids(root_pid: int) -> list:
    """Spark's Python daemon and the workers it forked, below ``root_pid``
    (the JVM's own command line names pyspark too, so match the modules)."""
    return [
        p for p in descendants(root_pid)
        if any(m in _cmdline(p) for m in ("pyspark.daemon", "pyspark.worker"))
    ]


class WorkerRssSampler:
    """Polls the highest VmHWM among the Spark Python workers in a
    background thread while active; ``peak_mb`` is the maximum seen."""

    def __init__(self, root_pid: int, interval_s: float = 0.25):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = None

    def sample(self) -> None:
        for pid in python_worker_pids(self.root_pid):
            self.peak_kb = max(self.peak_kb, _vm_hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
