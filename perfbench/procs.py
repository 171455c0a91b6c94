"""Child-process control, process-tree peak RSS and the machine stamp.

Each engine process starts in its own process group, so the JVM and the
Python workers it spawns share the group id. ``RssSampler`` polls
``/proc`` for the group's members and keeps the highest sum of their
``VmHWM`` (psutil is not needed). ``stop_group`` waits for the process,
then terminates and reaps anything left in the group.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 5 (pgrp) follows the parenthesised command name
        fields = stat[stat.rindex(")") + 2 :].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def _hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Highest summed VmHWM (MiB) over a process group while running."""

    def __init__(self, pgid: int, interval: float = 0.2) -> None:
        self.pgid = pgid
        self.interval = interval
        self.peak_mib = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            total = sum(_hwm_kib(p) for p in _group_pids(self.pgid))
            self.peak_mib = max(self.peak_mib, total / 1024.0)
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def spawn(argv: list[str], env: dict, log_path: str) -> subprocess.Popen:
    with open(log_path, "ab") as log:
        return subprocess.Popen(
            argv, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )


def stop_group(proc: subprocess.Popen, timeout: float, term_first: bool = False) -> int:
    """Wait up to ``timeout`` for ``proc`` (after SIGTERM when
    ``term_first``), then terminate and reap every process left in its
    group. Returns the process's exit code (negative if killed)."""
    pgid = proc.pid
    if term_first and proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(pgid, signal.SIGKILL)
        rc = proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10.0
        while _group_pids(pgid) and time.monotonic() < deadline:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        if not _group_pids(pgid):
            break
    return rc


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_share(start: dict, end: dict) -> float:
    """Share of CPU time the hypervisor took between two stamps."""
    total = end["jiffies_total"] - start["jiffies_total"]
    return (end["jiffies_steal"] - start["jiffies_steal"]) / total if total else 0.0


def machine_stamp() -> dict:
    """nproc, 1-minute loadavg, CPU jiffies and a fixed single-core CPU
    canary (s). Recorded to flag noisy runs; never used to correct a
    number."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i % 7
    canary = time.perf_counter() - t0
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    steal, total = _cpu_jiffies()
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg_1m": load1,
            "cpu_canary_s": round(canary, 4), "jiffies_steal": steal, "jiffies_total": total}
