"""Host side of a benchmark run: the run lock, the per-run scratch dir,
the memory-bandwidth canary and the process-tree RSS sampler.

Everything reads /proc and NumPy only (psutil is not a dependency).
"""

from __future__ import annotations

import fcntl
import glob
import os
import shutil
import signal
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np


class RunLock:
    """Exclusive lock so two benchmark runs in one checkout never overlap.
    ``flock`` is released by the kernel if the holder dies."""

    def __init__(self, path: str, wait_s: float):
        self.path, self.wait_s, self.fd = path, wait_s, None

    def __enter__(self):
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        self.fd = os.open(self.path, os.O_CREAT | os.O_RDWR, 0o644)
        deadline = time.monotonic() + self.wait_s
        while True:
            try:
                fcntl.flock(self.fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                return self
            except BlockingIOError:
                if time.monotonic() > deadline:
                    os.close(self.fd)
                    raise TimeoutError(f"another run holds {self.path}")
                time.sleep(0.5)

    def __exit__(self, *exc):
        fcntl.flock(self.fd, fcntl.LOCK_UN)
        os.close(self.fd)


def fresh_run_dir(root: str) -> str:
    """A new empty per-run dir under ``root``. Leftovers of earlier runs
    that were killed are removed first; the caller holds the run lock,
    so no live run owns them."""
    for old in glob.glob(os.path.join(root, "run-*")):
        shutil.rmtree(old, ignore_errors=True)
    path = os.path.join(root, "run-%d" % os.getpid())
    for sub in ("tmp", "local", "events", "data", "index", "warehouse"):
        os.makedirs(os.path.join(path, sub))
    return path


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


# ---------------- canary ----------------
def canary(threads: int) -> dict:
    """Host health probe, best of 3: parallel copy bandwidth over
    ``threads`` threads (NumPy releases the GIL inside copyto) and a
    single-thread random scatter. A degraded window shows up here
    before it shows up in the engine's numbers."""
    n = 1 << 22                               # 32 MiB of float64 per thread
    src = [np.ones(n) for _ in range(threads)]
    dst = [np.empty(n) for _ in range(threads)]
    for d in dst:
        d.fill(0.0)                           # fault the pages in first
    best_bw = 0.0
    with ThreadPoolExecutor(threads) as pool:
        for _ in range(3):
            t = time.perf_counter()
            list(pool.map(lambda i: [np.copyto(dst[i], src[i])
                                     for _ in range(4)], range(threads)))
            dt = time.perf_counter() - t
            best_bw = max(best_bw, threads * 4 * 2 * n * 8 / dt / 1e9)
    rng = np.random.default_rng(0)
    idx = rng.integers(0, n, size=n // 2)
    target = np.zeros(n)
    best_sc = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        target[idx] = 1.0
        best_sc = min(best_sc, (time.perf_counter() - t) * 1e3)
    return {"stream_gbps": best_bw, "scatter_ms": best_sc}


# ---------------- process tree ----------------
def _children_map() -> dict:
    kids: dict = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        ppid = int(raw[raw.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(pid)
    return kids


def descendants(root: int) -> list:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it. Python workers are forked from one
    daemon and share most of their pages, so summing plain RSS over
    them would count those pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak summed resident memory (as PSS) of this process and all its
    descendants (the JVM and the Python workers it forks), sampled on a
    background thread."""

    def __init__(self, period_s: float = 0.2):
        self.period_s, self.peak = period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        me = os.getpid()
        total = sum(_pss_bytes(p) for p in [me, *descendants(me)])
        self.peak = max(self.peak, total)
        return total

    def _run(self):
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def reap_children(timeout_s: float = 20.0) -> None:
    """Terminate, then kill, every descendant still alive, and wait until
    none is left."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        alive = descendants(me)
        if not alive:
            return
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        if time.monotonic() > deadline:
            if sig == signal.SIGKILL:
                raise RuntimeError(f"processes {alive} did not exit")
            sig, deadline = signal.SIGKILL, time.monotonic() + 5
        time.sleep(0.2)
