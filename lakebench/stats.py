"""Run statistics: percentiles, the tail rule, process-tree RSS and the
per-run environment stamp."""

from __future__ import annotations

import math
import os
import threading
import time

#: percentiles op_tail_s may report, highest first
TAIL_LADDER = (99, 95, 90, 75, 50)
#: samples that must lie strictly beyond the reported tail percentile
TAIL_BEYOND = 10


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest ladder percentile with at least ``TAIL_BEYOND``
    samples beyond it, as ``(percentile, value)``.

    Percentiles are nearest-rank (rank ``ceil(p/100 * n)``, 1-based).
    The ladder keeps the reported percentile the same from run to run
    when the op count moves a little.  A run with fewer than
    ``4 * TAIL_BEYOND`` samples needs only a quarter of its samples
    beyond the percentile (ops of this benchmark take seconds, so a run
    holds about ten), which makes the tail p75 there.  It is never the
    max."""
    s = sorted(xs)
    n = len(s)
    if n < 4:
        raise ValueError(f"tail needs at least 4 samples, got {n}")
    beyond = min(TAIL_BEYOND, n // 4)
    for p in TAIL_LADDER:
        rank = math.ceil(p / 100 * n)
        if n - rank >= beyond:
            return float(p), s[rank - 1]
    raise AssertionError("p50 always qualifies")


# ------------------------------------------------------------------ RSS


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants, from the parent ids in /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    pids, stack = [], [root]
    while stack:
        p = stack.pop()
        pids.append(p)
        stack.extend(kids.get(p, ()))
    return pids


def tree_rss(root: int) -> dict[int, int]:
    """Resident bytes of ``root`` and each of its descendants, by pid.

    Proportional (PSS): a page shared by several processes counts once
    in the sum.  With plain RSS a child the JVM forks to start a Python
    worker briefly shows the whole JVM again and doubles the total."""
    out = {}
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[p] = int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Samples the resident memory of this process and all its
    descendants (the Spark JVM and its Python workers) every ``period``
    seconds and keeps the peak."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        #: per-process RSS (MB) at the peak, for the run record
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        per = tree_rss(os.getpid())
        total = sum(per.values())
        if total > self.peak:
            self.peak = total
            self.at_peak = {f"{_comm(p)}:{p}": round(b / 2**20, 1) for p, b in per.items()}

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> int:
        if not self._stop.is_set():
            self._stop.set()
            self._t.join()
            self._sample()
        return self.peak


# ------------------------------------------------------------- env stamp


def process_start_epoch() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 overall: starttime
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


def env_stamp(cores: int, heap: str, jvm_max_heap_mb: float | None) -> dict:
    """Diagnostic context for a run (not a metric): host load, thread
    wake latency, and the fixed core count / heap the run used."""
    from bench import measure_wake_latency_us

    return {
        "load1": round(os.getloadavg()[0], 2),
        "wake_us": round(measure_wake_latency_us(), 1),
        "spark_cores": cores,
        "host_cpus": os.cpu_count(),
        "heap": heap,
        "jvm_max_heap_mb": jvm_max_heap_mb,
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }
