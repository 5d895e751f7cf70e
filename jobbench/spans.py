"""Measurement plumbing: an in-memory span recorder, a sampler of the
Python workers' resident memory, and Spark's own stage metrics."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Spans and counts kept in memory and written out once, at the end.

    A span is ``{id, name, start, end, parent, run_id}``; ``parent`` is the
    id of the span open when it started. A disabled tracer records
    nothing, so untraced passes run the same code."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._open[-1] if self._open else None
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.perf_counter(),
               "end": None, "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = value

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
            f.write(json.dumps({"run_id": self.run_id,
                                "counts": self.counts}) + "\n")


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid → (ppid, comm) for every process visible in /proc."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        head, _, tail = raw.rpartition(")")
        comm = head.partition("(")[2]
        table[int(entry)] = (int(tail.split()[1]), comm)
    return table


def descendants(root: int) -> list[tuple[int, str]]:
    """(pid, comm) of every process below ``root``, ``root`` excluded:
    Spark's JVM and its Python workers when ``root`` is the driver."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        found.append((pid, table[pid][1]))
    return found


def python_descendants(root: int) -> list[int]:
    """Python processes below ``root`` (Spark's Python workers when
    ``root`` is the driver)."""
    return [pid for pid, comm in descendants(root)
            if comm.startswith("python")]


def _cpu_s(stat_path: str, fields: slice = slice(11, 15)) -> float:
    """CPU seconds in the ``stat`` file of a process (user, system, and
    its reaped children's) or of a thread (user and system)."""
    try:
        with open(stat_path) as f:
            raw = f.read().rpartition(")")[2].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in raw[fields]) / os.sysconf("SC_CLK_TCK")


def _jit_threads(pid: int) -> dict[int, float]:
    """tid → CPU seconds of each JIT compiler thread of a JVM."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                comm = f.read()
        except OSError:
            continue
        if "CompilerThre" in comm:
            out[int(tid)] = _cpu_s(f"/proc/{pid}/task/{tid}/stat",
                                   slice(11, 13))
    return out


def _cpu_snapshot(root: int) -> tuple[float, dict[int, float]]:
    """(CPU seconds of every process below ``root``, CPU seconds of each
    JIT compiler thread among them). A child that has ended and been
    reaped counts through its parent."""
    total, jit = 0.0, {}
    for pid, comm in descendants(root):
        total += _cpu_s(f"/proc/{pid}/stat")
        if comm == "java":
            jit.update(_jit_threads(pid))
    return total, jit


class Clock:
    """Wall seconds, and CPU seconds of Spark's JVM and Python workers,
    of the code inside ``with Clock() as clock:``.

    The CPU figure leaves out the JVM's JIT compiler threads: their work
    is warm-up that a long job amortises, and it keeps arriving in bursts
    of seconds for many passes after the first."""

    def __enter__(self):
        self._cpu0, self._jit0 = _cpu_snapshot(os.getpid())
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self._t0
        cpu1, jit1 = _cpu_snapshot(os.getpid())
        jit_s = sum(s - self._jit0.get(tid, 0.0) for tid, s in jit1.items())
        self.jit_cpu_s = jit_s
        self.cpu_s = cpu1 - self._cpu0 - jit_s


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class WorkerRssSampler:
    """Largest resident set of any Python worker while sampling is on.

    Use as a context manager around the timed passes only."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.pids_seen: set[int] = set()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        for pid in python_descendants(os.getpid()):
            self.pids_seen.add(pid)
            self.peak_bytes = max(self.peak_bytes, _rss_bytes(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self):
        self._stop.clear()
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)


class StageMetrics:
    """Shuffle, spill and task-time figures of the stages a job group ran,
    read from the Spark UI's REST API on this host."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                     f"{self.sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def _stage_ids(self, group: str) -> list[int]:
        tracker = self.sc.statusTracker()
        ids = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                ids.update(info.stageIds)
        return sorted(ids)

    def _attempts(self, stage_id: int, deadline: float) -> list[dict]:
        # the status store is filled by an asynchronous listener: wait
        # until every attempt of the stage has settled
        while True:
            attempts = self._get(f"/stages/{stage_id}")
            if all(a["status"] in ("COMPLETE", "SKIPPED", "FAILED")
                   for a in attempts) or time.monotonic() > deadline:
                return attempts
            time.sleep(0.05)

    def for_group(self, group: str) -> dict:
        deadline = time.monotonic() + 10.0
        shuffle = spill = 0
        busiest: tuple[int, int, int] | None = None  # run time, stage, attempt
        for stage_id in self._stage_ids(group):
            for a in self._attempts(stage_id, deadline):
                if a["status"] != "COMPLETE":
                    continue
                shuffle += a["shuffleWriteBytes"]
                spill += a["memoryBytesSpilled"] + a["diskBytesSpilled"]
                key = (a["executorRunTime"], stage_id, a["attemptId"])
                if busiest is None or key > busiest:
                    busiest = key
        skew = 1.0
        if busiest is not None:
            q = self._get(f"/stages/{busiest[1]}/{busiest[2]}/taskSummary"
                          "?quantiles=0.5,1.0")["executorRunTime"]
            skew = q[1] / max(q[0], 1.0)
        return {"shuffle_write_bytes": shuffle, "spill_bytes": spill,
                "task_skew": skew}
