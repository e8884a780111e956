"""Benchmark-side tracing: spans around layer calls, Spark job counters,
process-tree RSS and the host cold-page probe.

Nothing here reaches inside the package: spans wrap the calls the benchmark
makes into each layer, counts come from ``setJobGroup`` + ``statusTracker``,
and spans stay in memory until ``Tracer.dump`` writes them out at the end of
the run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

import numpy as np


def cold_page_gbps() -> float:
    """First-touch copy bandwidth of 80 MB of fresh pages (the probe
    ``bench.py`` gates on)."""
    x = np.zeros(10_000_000)
    t = time.perf_counter()
    x.copy()
    return 8 * 10_000_000 / max(time.perf_counter() - t, 1e-9) / 1e9


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of this process's descendants every half
    second in a daemon thread; ``stop`` returns the peak in MB."""

    INTERVAL_S = 0.5

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in descendants(me)))
            self._stop.wait(self.INTERVAL_S)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans. ``span`` sets a Spark job group for its duration
    (restoring the caller's afterwards) and records the jobs, stages, tasks
    and failed tasks that ran under it."""

    JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._seq = 0

    def job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is None or stage.numTasks == 0:
                    continue  # skipped stage (its shuffle output was reused)
                stages += 1
                tasks += stage.numCompletedTasks + stage.numFailedTasks
                failed += stage.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        self._seq += 1
        group = f"{self.run_id}:{self._seq}:{name}"
        saved = {k: self.sc.getLocalProperty(k) for k in self.JOB_PROPS}
        self.sc.setJobGroup(group, name)
        s = Span(name, time.perf_counter(), 0.0, parent, self.run_id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            for k, v in saved.items():
                self.sc.setLocalProperty(k, v)
            s.counts.update(self.job_counts(group))
            self.spans.append(s)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) | {"seconds": s.seconds} for s in self.spans], f, indent=1)
