"""Executor processes of a ``local-cluster`` app, for the executor-loss
probes (``cluster_loss_probe.py``, ``cluster_stream_loss_probe.py``):
find them by application id, and wait for the workers to respawn them
after a kill."""
from __future__ import annotations

import os
import time


def exec_pids(app_id: str) -> list[int]:
    """PIDs of the ``CoarseGrainedExecutorBackend`` JVMs of ``app_id``,
    found by a scan of ``/proc``."""
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="ignore")
        except OSError:
            continue
        if "CoarseGrainedExecutorBackend" in cmd and app_id in cmd:
            out.append(int(p))
    return sorted(out)


def wait_executors(app_id: str, n: int = 2, timeout: float = 90.0) -> None:
    """Block until ``app_id`` has ``n`` executors; raise after
    ``timeout`` seconds, so no kill leg runs short-handed."""
    deadline = time.time() + timeout
    while len(seen := exec_pids(app_id)) < n:
        if time.time() >= deadline:
            raise RuntimeError(
                f"{len(seen)} of {n} executors up after {timeout:.0f}s")
        time.sleep(0.5)
