"""Host fingerprint, process-tree memory, and the summary statistics every
workload reports."""

from __future__ import annotations

import hashlib
import os
import signal
import statistics
import subprocess
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return "unknown"


def source_digest(root: str) -> str:
    """sha256 over the engine package's Python sources: identifies the
    code under test even where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "etl_process_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


# Fields that must agree for two results to be comparable.
HOST_KEYS = ("nproc", "mem_total_kb", "cpu_model", "java", "pyspark", "duckdb",
             "SPARK_GRAFT_CPUS")


def fingerprint(root: str, spark) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_kb": _meminfo_kb("MemTotal"),
        "cpu_model": _cpu_model(),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_commit": _git_commit(root),
        "source_digest": source_digest(root),
    }


class TreeMemory:
    """Peak resident memory of every process started under this one (the
    driver JVM and the Python workers it forks), from /proc.

    Each ``sample`` reads every descendant's ``VmHWM`` (its own
    high-water mark, so peaks between samples are not missed) and keeps
    the largest seen per process; ``peak_mb`` sums them.
    """

    def __init__(self) -> None:
        self.peak_kb: dict[int, int] = {}

    @staticmethod
    def _children() -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        return kids

    def sample(self) -> None:
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), kb)
                            break
            except OSError:
                continue

    def peak_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> dict:
    """The highest percentile with at least ten samples beyond it, never
    reported below p90: with fewer than 100 samples p90 is used and the
    number of samples beyond it is recorded instead."""
    xs = sorted(xs)
    n = len(xs)
    if not n:
        return {"value": 0.0, "q": None, "n": 0, "beyond": 0}
    q = max(0.9, 1.0 - 10.0 / n)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    value = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return {"value": value, "q": round(q, 4), "n": n,
            "beyond": sum(1 for x in xs if x > value)}


def summary(xs) -> dict:
    """Median plus tail, with sample counts (the ledger's timing form)."""
    t = tail(xs)
    return {"p50": median(xs), "tail": t["value"], "tail_q": t["q"], "n": t["n"]}


def become_subreaper() -> None:
    """Make this process the parent of every descendant orphaned while it
    runs (Linux ``PR_SET_CHILD_SUBREAPER``), so ``reap_children`` can
    wait for them; a no-op where the call is unavailable."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def descendants() -> list[int]:
    """Every process started under this one, from /proc."""
    kids = TreeMemory._children()
    todo, out = list(kids.get(os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def reap_children(grace_s: float = 10.0) -> None:
    """Wait until every process this one started, and everything they
    started, has ended and been reaped: ``grace_s`` seconds to end on
    their own, then SIGTERM, then SIGKILL."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in descendants() if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + (grace_s if sig is None else 5.0)
        while True:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                return
            if time.monotonic() >= deadline and sig != signal.SIGKILL:
                break
            time.sleep(0.05)
