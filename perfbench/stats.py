"""Arithmetic of the benchmark: latency statistics, op accounting and
CPU / memory accounting over a process tree read from ``/proc``.

Nothing here imports Spark, so ``test_stats.py`` covers it in
milliseconds.
"""

from __future__ import annotations

import os
import statistics
import threading
from dataclasses import dataclass, field

TAIL_BEYOND = 10  # samples that must lie above the reported tail
RSS_EVERY_S = 0.5  # RSS sampling interval


def tail(latencies: list[float]):
    """The highest percentile with at least ``TAIL_BEYOND`` samples above
    it.

    Returns ``(value, percentile, n)``. With ``n`` samples sorted
    ascending, the k-th smallest (k = n - TAIL_BEYOND) has ``TAIL_BEYOND``
    samples after it in the order; when it ties with the next one, k steps
    down until every sample after it is strictly larger. Its percentile is
    ``100 * k / n``. With ``n <= TAIL_BEYOND`` no percentile
    qualifies: the maximum is returned with percentile 100, and the
    caller records that as a degenerate tail."""
    xs = sorted(latencies)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = n - TAIL_BEYOND
    while k >= 1 and xs[k - 1] == xs[k]:
        k -= 1
    if k < 1:
        return xs[-1], 100.0, n
    return xs[k - 1], 100.0 * k / n, n


@dataclass
class OpLedger:
    """Outcome of every timed op, indexed by attempt. A raised op counts
    as attempted, failed and incorrect; it gives no latency sample."""

    outcomes: list[float | None] = field(default_factory=list)
    correct: list[bool] = field(default_factory=list)

    def ok(self, seconds: float) -> int:
        """Record a completed op whose output is checked later; returns
        its index for ``verdict``."""
        self.outcomes.append(seconds)
        self.correct.append(False)
        return len(self.outcomes) - 1

    def raised(self) -> int:
        self.outcomes.append(None)
        self.correct.append(False)
        return len(self.outcomes) - 1

    def verdict(self, index: int, is_correct: bool) -> None:
        if self.outcomes[index] is not None:
            self.correct[index] = bool(is_correct)

    @property
    def latencies(self) -> list[float]:
        return [x for x in self.outcomes if x is not None]

    @property
    def attempted(self) -> int:
        return len(self.outcomes)

    @property
    def failed(self) -> int:
        return self.outcomes.count(None)

    @property
    def n_correct(self) -> int:
        return sum(self.correct)

    def metrics(self) -> dict:
        """End-to-end metrics of the timed ops. ``ops_per_s`` divides
        correct ops by the seconds spent inside ops, so harness work
        between ops does not count against the program."""
        lat = self.latencies
        value, pct, n = tail(lat)
        return {
            "ops_per_s": self.n_correct / sum(lat),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": value,
            "correct_ops_frac": self.n_correct / self.attempted,
            "tail_percentile": pct,
            "tail_n": n,
        }


def run_correct(ledgers: list[OpLedger], skipped_stages: float) -> bool:
    """A run is correct when every op it attempted matched its oracle and
    no timed op was served from stages an earlier op had already run,
    which is what a reused (cached) plan does."""
    return skipped_stages == 0 and all(lg.n_correct == lg.attempted for lg in ledgers)


# -- /proc accounting ------------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096


@dataclass(frozen=True)
class ProcStat:
    pid: int
    comm: str
    ppid: int
    self_ticks: int  # utime + stime
    child_ticks: int  # cutime + cstime: reaped descendants
    rss_pages: int


def parse_stat(text: str) -> ProcStat:
    """Parse one ``/proc/<pid>/stat`` line. ``comm`` may hold spaces and
    parentheses, so the fields are split after the last ')'."""
    head, _, rest = text.rpartition(")")
    pid_s, _, comm = head.partition(" (")
    f = rest.split()
    # f[0] is field 3 (state); field k of proc(5) is f[k - 3]
    return ProcStat(
        pid=int(pid_s),
        comm=comm,
        ppid=int(f[1]),
        self_ticks=int(f[11]) + int(f[12]),
        child_ticks=int(f[13]) + int(f[14]),
        rss_pages=int(f[21]),
    )


def read_procs(proc_root: str = "/proc") -> dict[int, ProcStat]:
    out = {}
    for name in os.listdir(proc_root):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc_root, name, "stat")) as fh:
                st = parse_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue  # exited between listdir and open
        out[st.pid] = st
    return out


def tree(root: int, procs: dict[int, ProcStat]) -> list[ProcStat]:
    """``root`` and every live descendant."""
    kids: dict[int, list[int]] = {}
    for st in procs.values():
        kids.setdefault(st.ppid, []).append(st.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int, proc_root: str = "/proc") -> float:
    """CPU seconds used so far by the tree under ``root``: each live
    member's own utime+stime plus its cutime+cstime, which holds the
    time of descendants it has already reaped. A live process's time is
    in no other member's cutime, so nothing is counted twice; a worker
    that exits between two readings moves from its own entry into its
    parent's cutime and stays counted."""
    ticks = sum(
        s.self_ticks + s.child_ticks for s in tree(root, read_procs(proc_root))
    )
    return ticks / CLK_TCK


def tree_rss_gb(root: int, proc_root: str = "/proc") -> float:
    pages = sum(s.rss_pages for s in tree(root, read_procs(proc_root)))
    return pages * PAGE / 1e9


def python_worker_cpu_s(root: int, proc_root: str = "/proc") -> float:
    """CPU seconds of the PySpark worker processes: python descendants
    of ``root`` other than ``root`` itself (the driver)."""
    ticks = sum(
        s.self_ticks + s.child_ticks
        for s in tree(root, read_procs(proc_root))
        if s.pid != root and s.comm.startswith("python")
    )
    return ticks / CLK_TCK


class RssSampler:
    """Peak RSS of a process tree, sampled on a daemon thread."""

    def __init__(self, root: int):
        self.root = root
        self.peak_gb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_gb = max(self.peak_gb, tree_rss_gb(self.root))
            self._stop.wait(RSS_EVERY_S)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_gb
