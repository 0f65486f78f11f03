"""What the benchmark reads from Spark and the operating system: stage
metrics from the status REST API, job-id cursors, and the resident
memory of this process, the JVM and the Python workers."""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import urllib.request

# Stage fields summed into per-layer metrics, with the factor that turns
# each into seconds or megabytes.
STAGE_FIELDS = {
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_mb": ("inputBytes", 1 / 2**20),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
}


def _epoch(stamp: str | None) -> float | None:
    # REST times look like 2026-01-02T03:04:05.678GMT
    if not stamp:
        return None
    t = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


class SparkStatus:
    """Reads one SparkContext's status store: job ids through the
    scheduler, stage metrics through the local status REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._sc = sc
        self._dag = sc._jsc.sc().dagScheduler()

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def next_job_id(self) -> int:
        """The id the next submitted job will get. Jobs with ids in
        ``[a, b)`` between two readings were submitted in between, from
        any thread."""
        # py4j hands the scheduler's AtomicInteger back as a plain int
        return int(self._dag.nextJobId())

    def wait_idle(self) -> None:
        """Block until the listener bus has delivered every event, so the
        status store holds the final metrics of finished stages."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def stage_ids(self, first_job: int, end_job: int) -> list[int]:
        """Stage ids of the jobs with ids in ``[first_job, end_job)``."""
        tracker = self._sc.statusTracker()
        out: set[int] = set()
        for j in range(first_job, end_job):
            info = tracker.getJobInfo(j)
            if info is not None:
                out.update(info.stageIds)
        return sorted(out)

    def stage(self, stage_id: int) -> dict | None:
        """Metrics of one stage summed over its attempts, or ``None`` for
        a stage that never ran (skipped because its output was reused)."""
        attempts = [
            a for a in self._get(f"/stages/{stage_id}") if a.get("status") != "SKIPPED"
        ]
        if not attempts:
            return None
        out = {k: sum(a.get(f, 0) for a in attempts) * m for k, (f, m) in STAGE_FIELDS.items()}
        out["tasks"] = sum(a.get("numCompleteTasks", 0) for a in attempts)
        starts = [_epoch(a.get("submissionTime")) for a in attempts]
        ends = [_epoch(a.get("completionTime")) for a in attempts]
        out["start"] = min(s for s in starts if s is not None)
        out["end"] = max(e for e in ends if e is not None)
        return out

    def executor_cpu_s(self) -> float:
        """Executor CPU seconds summed over every completed stage so far."""
        return sum(s.get("executorCpuTime", 0) for s in self._get("/stages?status=complete")) / 1e9


def tree_pids(root: int) -> list[int]:
    """``root`` and the pids of all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of ``root`` (default: this process) and all its
    descendants (the JVM and Python workers), in MiB."""
    total = 0
    for pid in tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Samples ``tree_rss_mb`` on a background thread and keeps the peak.
    Use as a context manager; the thread is joined on exit."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
