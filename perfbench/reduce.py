"""Pure reducers of the benchmark: no Spark, no clock.

Each function turns raw observations (timing samples, check outcomes, a
crawl's resolved state, Spark event-log lines, /proc entries) into the
numbers the benchmark prints, so each can be pinned on fixed inputs
(``perfbench/test_perfbench.py``).
"""

from __future__ import annotations

import json
import math
import os
from collections import defaultdict

import numpy as np

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
# a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    return float(np.percentile(values, p))


def supported_percentile(n: int) -> float | None:
    """Highest tail percentile with at least ``MIN_BEYOND`` of ``n``
    samples beyond it; ``None`` when the sample supports only the median."""
    for p in TAIL_PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 9) >= MIN_BEYOND:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Median plus the highest supported tail percentile, with the count."""
    out = {"n": len(values), "p50": percentile(values, 50.0)}
    p = supported_percentile(len(values))
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def failed_share(failed: int, attempted: int) -> float:
    """Failed checks ÷ checks attempted; a run that attempted no check
    cannot vouch for its output, so it counts as wholly failed."""
    if attempted <= 0:
        return 1.0
    return failed / attempted


class Checks:
    """Counts correctness checks and keeps the names of failed ones."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, ok: bool, name: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(name)
        return ok

    @property
    def failed(self) -> int:
        return len(self.failures)


def compare_crawl(
    engine_seen: set[tuple[str, str]],
    engine_log: list[tuple[int, str, int, str]],
    golden_seen: dict[str, str],
    golden_log: list[tuple[int, str, int, str]],
    committed_fetched: int,
) -> list[str]:
    """Golden-simulator parity of one crawl. Returns the names of the
    failed comparisons (empty when the crawl matches):

    - ``seen_membership``: the (url, status) set equals the simulator's;
    - ``host_ordering``: the (epoch, host, host_rank, url) fetch log
      equals the simulator's, which fixes each host's order per epoch;
    - ``fetched_count``: pages committed (commit markers) equal the
      simulator's fetch count and the engine's page rows.
    """
    failed = []
    if engine_seen != set(golden_seen.items()):
        failed.append("seen_membership")
    if sorted(engine_log) != sorted(golden_log):
        failed.append("host_ordering")
    if not committed_fetched == len(golden_log) == len(engine_log):
        failed.append("fetched_count")
    return failed


def _task_metrics(ev: dict) -> dict:
    tm = ev.get("Task Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    return {
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0)
        + tm.get("Disk Bytes Spilled", 0),
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
    }


def reduce_event_log(
    lines, t_from_ms: float = -math.inf, t_to_ms: float = math.inf
) -> dict:
    """Reduce Spark event-log JSON lines to job/task counts and summed
    task metrics, over the jobs submitted in ``[t_from_ms, t_to_ms]``
    (wall-clock epoch milliseconds). Tasks are attributed through their
    stage to the job that submitted it."""
    window_stages: set[int] = set()
    jobs = 0
    totals: dict[str, float] = defaultdict(float)
    tasks = 0
    pending: list[dict] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if t_from_ms <= ev.get("Submission Time", 0) <= t_to_ms:
                jobs += 1
                window_stages.update(ev.get("Stage IDs", []))
        elif kind == "SparkListenerTaskEnd":
            pending.append(ev)
    for ev in pending:
        if ev.get("Stage ID") not in window_stages:
            continue
        tasks += 1
        for k, v in _task_metrics(ev).items():
            totals[k] += v
    return {
        "jobs": jobs,
        "tasks": tasks,
        "shuffle_write_bytes": totals["shuffle_write_bytes"],
        "spill_bytes": totals["spill_bytes"],
        "gc_s": totals["gc_s"],
        "executor_cpu_s": totals["executor_cpu_s"],
    }


# ---------------------------------------------------------------------------
# Process tree (/proc): the JVM and the Python workers are descendants of
# the benchmark process, so CPU and memory are summed over the whole tree.
# ---------------------------------------------------------------------------
_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        children[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the live tree, including children it
    has already reaped (``cutime``/``cstime``)."""
    total = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
    return total / _CLK


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs
    (the ``steal`` column of /proc/stat), summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory of the live tree with shared pages counted once
    (sum of PSS): forked Python workers share most of their pages with
    the daemon they forked from, which a plain RSS sum counts again per
    worker."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            total_kb += _pss_kb(pid)
        except OSError:
            continue
    return total_kb / 1024
