"""Measurement helpers: Spark job/stage accounting, percentiles, RSS.

Everything here reads what Spark already records. A traced phase runs
under its own job group; afterwards :meth:`JobTrace.phase` asks the
status store for the group's jobs and sums the metrics of every stage
those jobs ran (``statusStore().lastStageAttempt``). Nothing is
inserted into the program under test.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

#: Stage metrics summed per phase, as (record key, StageData getter, scale).
STAGE_FIELDS = (
    ("tasks", "numTasks", 1),
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("scan_bytes", "inputBytes", 1),
    ("scan_records", "inputRecords", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)


_BATCH = re.compile(r"^batch = (\d+)$", re.M)


@dataclass
class Phase:
    """One job group's jobs and the sums over the stages they ran."""

    group: str
    jobs: list[int] = field(default_factory=list)
    stages: list[int] = field(default_factory=list)
    skipped_stages: int = 0
    job_spans: list[tuple[float, float]] = field(default_factory=list)
    sums: dict[str, float] = field(default_factory=dict)

    def record(self) -> dict:
        return {
            "group": self.group,
            "jobs": self.jobs,
            "stages": self.stages,
            "skipped_stages": self.skipped_stages,
            **{k: round(v, 6) for k, v in self.sums.items()},
        }


class JobTrace:
    """Reads job and stage data for job groups from a SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self._to_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group) or [])

    def stream_batches(self, group: str) -> dict[int, list[int]]:
        """Jobs of a streaming query's group (its run id) by micro-batch,
        read from the ``batch = N`` line Spark puts in each batch's job
        description."""
        out: dict[int, list[int]] = {}
        for job_id in self.jobs(group):
            desc = self.store.job(job_id).description()
            if desc.isDefined():
                m = _BATCH.search(desc.get())
                if m:
                    out.setdefault(int(m.group(1)), []).append(job_id)
        return out

    def phase(self, group: str, job_ids: list[int] | None = None) -> Phase:
        """Jobs of ``group`` (or just ``job_ids``) and stage sums covering
        every one of them.

        Stages a job skipped (its shuffle input was already written by
        an earlier job) carry no work and are counted, not summed.
        """
        out = Phase(group, sums={k: 0.0 for k, _, _ in STAGE_FIELDS})
        seen: set[int] = set()
        for job_id in self.jobs(group) if job_ids is None else sorted(job_ids):
            jd = self.store.job(job_id)
            out.jobs.append(job_id)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out.job_spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            for sid in self._to_java(jd.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    out.skipped_stages += 1
                    continue
                out.stages.append(sid)
                for key, getter, scale in STAGE_FIELDS:
                    out.sums[key] += getattr(sd, getter)() * scale
        out.stages.sort()
        return out


def uncovered_s(t0: float, t1: float, spans: list[tuple[float, float]]) -> float:
    """Seconds of ``[t0, t1]`` during which none of ``spans`` was running."""
    busy, cur_start, cur_end = 0.0, None, None
    for s, e in sorted((max(s, t0), min(e, t1)) for s, e in spans):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                busy += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        busy += cur_end - cur_start
    return max(t1 - t0 - busy, 0.0)


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least
    ``beyond`` samples above it, by the nearest-rank rule. With too few
    samples for that it falls back to the upper median, so the tail
    never reads below the median."""
    s = sorted(xs)
    n = len(s)
    rank = max(n - beyond, n // 2 + 1)  # 1-based nearest rank
    return round(100.0 * rank / n, 1), s[rank - 1]


def descendants(root: int) -> list[int]:
    """Every process below ``root`` in the process tree, from ``/proc``."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, stack = [], [root]
    while stack:
        for pid in kids.get(stack.pop(), []):
            out.append(pid)
            stack.append(pid)
    return out


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of every CPU since boot, from /proc/stat.
    Steal is time the host ran something else while this machine's
    CPUs were runnable; its share over a run says how contended the
    host was, which timings from different runs need beside them."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) spent so far by ``root`` and every
    process below it, counting children they have already reaped. The
    kernel leaves out time the host stole from this machine's CPUs."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of peak resident set sizes (VmHWM) of every process below
    ``root`` — the Spark JVM and the Python workers it forked — in MB.
    ``root`` itself (the benchmark's own interpreter) is excluded."""
    return sum(_status_kb(pid, "VmHWM") for pid in descendants(root)) / 1024.0
