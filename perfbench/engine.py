"""Readers for Spark's status stores and the Spark driver's process tree.

Everything here reads state Spark already keeps: the core status store
(jobs, stages, task metrics), the SQL status store (per-execution plan
metrics, where the Python-worker timings live), the DAG scheduler's
next job id, the status tracker (stage ids per job) and ``/proc`` for
the process tree's memory.
"""

from __future__ import annotations

import os
import re
import signal
import time

# SQL plan-metric display names -> python.* metric (see Spark's
# PythonSQLMetrics); values are summed over every execution
PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "jvmGcTime", "inputBytes", "outputBytes", "shuffleReadBytes",
    "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


def _opt(opt, default):
    return opt.get() if opt.isDefined() else default


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Job, stage and SQL-execution metrics of one SparkContext.

    A lane run is read as the range between two marks: every job id and
    SQL execution the driver created in between, including the jobs
    that other threads submit under job groups of their own (a streaming
    query's micro-batches, broadcast exchanges). Each read first drains the listener bus, so the stores hold
    the final state of every job, stage and execution in the range."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self.store = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._stages_seen: set[int] = set()

    def mark(self) -> tuple[int, int]:
        """(next job id, SQL executions so far)."""
        self._bus.waitUntilEmpty()
        return self._dag.nextJobId(), self.sql.executionsCount()

    def shape(self, since: tuple[int, int], until: tuple[int, int]):
        """(jobs, stages) submitted between two marks."""
        tracker = self.sc.statusTracker()
        jobs = range(since[0], until[0])
        return len(jobs), sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)

    def jobs(self, since: tuple[int, int], group: str) -> list[dict]:
        """Every job submitted since the mark, with its times (epoch s),
        whether a streaming query's micro-batch ran it (its group is the
        query's run id, which its description names) and the metrics of
        the stages it ran. A stage
        shared with an earlier job (a skipped stage) is counted once, by
        the job that ran it."""
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = []
        for jid in range(since[0], self._dag.nextJobId()):
            jd = self.store.job(jid)
            jgroup = _opt(jd.jobGroup(), group)
            desc = _opt(jd.description(), "")
            job = {
                "id": jid,
                "submitted": _opt_ms(jd.submissionTime()),
                "completed": _opt_ms(jd.completionTime()),
                "stream": jgroup != group and f"runId = {jgroup}" in desc,
                "stages": 0,
            }
            job.update({f: 0 for f in _STAGE_FIELDS})
            for sid in tracker.getJobInfo(jid).stageIds:
                if sid in self._stages_seen:
                    continue
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                self._stages_seen.add(sid)
                job["stages"] += 1
                for f in _STAGE_FIELDS:
                    job[f] += getattr(sd, f)()
            if job["submitted"] is not None:
                out.append(job)
        return out

    def python_metrics(self, since: tuple[int, int],
                       until: tuple[int, int]) -> dict[str, float]:
        """python.* summed over the SQL executions between two marks."""
        total = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        if until[1] <= since[1]:
            return total
        execs = self.sql.executionsList(since[1], until[1] - since[1])
        for i in range(execs.size()):
            ex = execs.apply(i)
            ids = {
                acc: PYTHON_METRICS[name]
                for name, acc in re.findall(
                    r"SQLPlanMetric\(([^,]+),(\d+),", ex.metrics().toString()
                )
                if name in PYTHON_METRICS
            }
            if not ids:
                continue
            values = _parse_metric_map(
                self.sql.executionMetrics(ex.executionId()).toString()
            )
            for acc, key in ids.items():
                total[key] += _metric_value(values.get(acc, "0 B"))
        return total

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()


def _parse_metric_map(text: str) -> dict[str, str]:
    """Scala ``Map(12 -> v, 13 -> v)``.toString() -> {"12": v, ...}."""
    body = text[text.find("(") + 1: text.rfind(")")]
    parts = re.split(r"(?:^|, )(\d+) -> ", body)
    return dict(zip(parts[1::2], parts[2::2]))


def _metric_value(text: str) -> float:
    """A formatted SQL metric (``"1.2 s"``, or ``"total (min, med,
    max ...)\\n3.4 KiB (...)"``) -> its total in seconds or bytes."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


# --- process tree -------------------------------------------------------

def _ppids() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            out[int(d)] = int(stat[stat.rfind(")") + 2:].split()[1])
    return out


def tree_pids(root: int) -> set[int]:
    """``root`` and all its descendants."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        kids.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.add(p)
            todo.extend(kids.get(p, ()))
    return seen


def tree_peak_rss_mb(root: int) -> dict[int, float]:
    """Peak RSS (VmHWM, MB) of each process in ``root``'s tree."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) * 1024 / 1e6
                        break
        except OSError:
            continue
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def wait_gone(pids: set[int], timeout: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
