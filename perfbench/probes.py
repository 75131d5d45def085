"""Measurement helpers of the benchmark: in-memory spans, Spark job and
stage counters, and /proc readings of this process tree.

None of this changes what the program computes. Spans are recorded from
the benchmark's side of each layer boundary; Spark counters come from the
status store the local UI serves (the same REST API tools/scale_curve.py
reads), after the work they describe has finished.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """Spans kept in memory: name, start, end, parent and attributes, all
    sharing one run id. Times are time.perf_counter() seconds."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = self.begin(name, **attrs)
        try:
            yield rec
        finally:
            self.end(rec)

    def begin(self, name: str, **attrs) -> dict:
        """Open a span that may end in another call frame; end() closes it."""
        rec = {
            "run": self.run_id,
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        return rec

    def end(self, rec: dict) -> None:
        """Close rec and any span still open inside it (an exception can
        leave those behind); a span already closed is left as it is."""
        if rec["id"] not in self._stack:
            return
        now = time.perf_counter()
        while True:
            top = self.spans[self._stack.pop()]
            top["end"] = now
            if top is rec:
                return

    def total(self, name: str) -> float:
        """Summed duration of the closed spans called name."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None
        )


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------


def _utc_seconds(stamp: str) -> float:
    # "2026-10-17T04:50:12.345GMT"
    return (
        datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkCounters:
    """Job and stage counters for job groups, read from the local UI's
    REST API (/api/v1) of one SparkContext."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def _settled_jobs(self, prefix: str, timeout: float = 15.0):
        """Jobs whose group starts with prefix, once every one of them and
        every stage they ran is recorded as finished (the status store is
        fed asynchronously by the listener bus)."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = [
                j
                for j in self._get("/jobs")
                if (j.get("jobGroup") or "").startswith(prefix)
            ]
            done = all(
                j["status"] in ("SUCCEEDED", "FAILED") and "completionTime" in j
                for j in jobs
            )
            if done:
                stages = {s["stageId"]: s for s in self._get("/stages")}
                live = {"ACTIVE", "PENDING"}
                if not any(
                    stages.get(sid, {}).get("status") in live
                    for j in jobs
                    for sid in j["stageIds"]
                ):
                    return jobs, stages
            if time.monotonic() > deadline:
                raise TimeoutError(f"Spark status store did not settle for {prefix}")
            time.sleep(0.2)

    def collect(self, prefix: str) -> dict:
        """Counters for all jobs under group prefix "<prefix>…", split by
        the phase suffix of the group ("/build", "/plan", "/action")."""
        jobs, stages = self._settled_jobs(prefix)
        # a stage is charged to the first job that ran it; later jobs that
        # list it reused its output
        jobs.sort(key=lambda j: j["jobId"])
        by_phase: dict[str, set[int]] = {}
        stage_ids: set[tuple[int, int]] = set()
        intervals = []
        for j in jobs:
            phase = j["jobGroup"].rsplit("/", 1)[-1]
            by_phase.setdefault(phase, set()).add(j["jobId"])
            intervals.append(
                (_utc_seconds(j["submissionTime"]), _utc_seconds(j["completionTime"]))
            )
        action_stages = 0
        action_tasks = 0
        action_jobs = by_phase.get("action", set())
        out = {
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "jvm_gc_s": 0.0,
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "spill_bytes": 0,
            "max_task_shuffle_write_bytes": 0,
            "input_bytes": 0,
            "input_rows": 0,
            "tasks": 0,
            "failed_tasks": 0,
        }
        for j in jobs:
            for sid in j["stageIds"]:
                s = stages.get(sid)
                if s is None or s["status"] not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its output was reused
                key = (sid, s["attemptId"])
                if key in stage_ids:
                    continue
                stage_ids.add(key)
                n_tasks = s["numCompleteTasks"] + s["numFailedTasks"]
                if j["jobId"] in action_jobs:
                    action_stages += 1
                    action_tasks += n_tasks
                out["tasks"] += n_tasks
                out["failed_tasks"] += s["numFailedTasks"]
                out["executor_run_s"] += s["executorRunTime"] / 1e3
                out["executor_cpu_s"] += s["executorCpuTime"] / 1e9
                out["jvm_gc_s"] += s["jvmGcTime"] / 1e3
                out["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                out["shuffle_read_bytes"] += s["shuffleReadBytes"]
                out["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                out["input_bytes"] += s["inputBytes"]
                out["input_rows"] += s["inputRecords"]
                if s["shuffleWriteBytes"] > 0:
                    summ = self._get(
                        f"/stages/{sid}/{s['attemptId']}/taskSummary?quantiles=1.0"
                    )
                    mx = summ.get("shuffleWriteMetrics", {}).get("writeBytes", [0])
                    out["max_task_shuffle_write_bytes"] = max(
                        out["max_task_shuffle_write_bytes"], int(mx[0])
                    )
        out.update(
            jobs=[
                [j["jobId"], j["jobGroup"].rsplit("/", 1)[-1], j["status"], j["name"]]
                for j in jobs
            ],
            build_jobs=len(by_phase.get("build", ())),
            plan_jobs=len(by_phase.get("plan", ())),
            action_jobs=len(action_jobs),
            action_stages=action_stages,
            action_tasks=action_tasks,
            stages=len(stage_ids),
            job_busy_s=union_seconds(intervals),
        )
        return out


# --------------------------------------------------------------------------
# /proc
# --------------------------------------------------------------------------


def _proc_table() -> dict[int, tuple]:
    """pid -> (ppid, comm, own+reaped-children cpu seconds, rss bytes)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue  # the process exited
        head, _, rest = raw.rpartition(")")
        f = rest.split()
        cpu = sum(int(x) for x in f[11:15]) / _CLK_TCK  # u/s time + children
        out[int(d)] = (int(f[1]), head.partition("(")[2], cpu, int(f[21]) * _PAGE)
    return out


def _tree(table: dict[int, tuple], root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, ent in table.items():
        kids.setdefault(ent[0], []).append(pid)
    out, stack = set(), [root]
    while stack:
        pid = stack.pop()
        if pid not in out:
            out.add(pid)
            stack.extend(kids.get(pid, ()))
    return out


def python_worker_cpu() -> dict[int, float]:
    """CPU seconds per live Python process below this one (the PySpark
    daemon and its workers), counting the CPU of workers the daemon has
    already reaped. The driver process itself is excluded."""
    table = _proc_table()
    me = os.getpid()
    return {
        pid: table[pid][2]
        for pid in _tree(table, me) - {me}
        if table[pid][1].startswith("python")
    }


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


class RssSampler:
    """Samples the summed resident set size of this process tree (driver,
    JVM, Python workers) on a background thread and keeps the peak."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._window_peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        table = _proc_table()
        rss = sum(table[p][3] for p in _tree(table, os.getpid()) if p in table)
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, rss)
            self._window_peak = max(self._window_peak, rss)

    def window(self) -> int:
        """Peak since the previous call (or the start), then restart."""
        self._sample()
        with self._lock:
            peak, self._window_peak = self._window_peak, 0
        return peak

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> RssSampler:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def reap_children(timeout: float) -> list[int]:
    """Wait for every child of this process to exit (orphans of our own
    tree land here once the caller is a child subreaper). Children still
    running after `timeout` are killed, then waited for. Returns the pids
    that had to be killed."""
    import signal

    deadline = time.monotonic() + timeout
    killed: list[int] = []
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return killed
        if pid:
            continue
        if time.monotonic() > deadline:
            table = _proc_table()
            me = os.getpid()
            for p in _tree(table, me) - {me}:
                try:
                    os.kill(p, signal.SIGKILL)
                    killed.append(p)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)
