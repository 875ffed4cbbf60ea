"""Spans, Spark event-log task times and Python-worker memory.

Spans are recorded by the benchmark around its calls into the
library; nothing inside the library is instrumented.  They stay in
memory and are written as JSON when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Nested spans ``{name, start, end, parent, run_id}`` of one thread."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "start": time.perf_counter(),
               "end": None, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict:
        """name -> summed self time: duration minus the time its child
        spans cover (children of one thread run one after another)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def durations(self, name: str) -> list:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def read_event_log(log_dir: str) -> dict:
    """Task times and shuffle bytes per job group, from the event logs
    (single files or rolling ``eventlog_v2_*`` dirs) of the stopped Spark
    applications in ``log_dir``.

    Returns group -> list of tasks ``(launch_s, finish_s, shuffle_bytes)``."""
    stage_group: dict = {}
    tasks: dict = {}
    paths = sorted(os.path.join(root, f) for root, _d, fs in os.walk(log_dir)
                   for f in fs if not f.startswith((".", "appstatus")))
    for path in paths:
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[(path, sid)] = group
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    shuffle = ((ev.get("Task Metrics") or {})
                               .get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    tasks.setdefault((path, ev["Stage ID"]), []).append(
                        (info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0, shuffle)
                    )
    by_group: dict = {}
    for key, ts in tasks.items():
        group = stage_group.get(key)
        if group is not None:
            by_group.setdefault(group, []).extend(ts)
    return by_group


def tail_seconds(tasks: list, cores: int) -> float:
    """Time between the first task launch and the last task finish
    during which fewer tasks than ``cores`` were running."""
    if not tasks:
        return 0.0
    edges = sorted([(t[0], 1) for t in tasks] + [(t[1], -1) for t in tasks],
                   key=lambda e: (e[0], e[1]))
    running, tail, prev = 0, 0.0, edges[0][0]
    for at, delta in edges:
        if running < cores:
            tail += at - prev
        running += delta
        prev = at
    return tail


def _ppid_map() -> dict:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _hwm_mib(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


POLL_SECONDS = 0.25


class WorkerMemory:
    """Peak resident memory (VmHWM) of the Python workers under the
    Spark JVM ``jvm_pid``, polled from /proc while a job runs."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = None

    def _poll(self) -> None:
        ppid = _ppid_map()
        kids: dict = {}
        for pid, parent in ppid.items():
            kids.setdefault(parent, []).append(pid)
        todo, seen = list(kids.get(self.jvm_pid, ())), []
        while todo:
            pid = todo.pop()
            seen.append(pid)
            todo.extend(kids.get(pid, ()))
        for pid in seen:
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                continue
            # workers are forks of ``python -m pyspark.daemon``; the JVM's
            # own command line (``... pyspark-shell``) must not match, as a
            # child it spawns shares its memory until it execs
            if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                self.peak = max(self.peak, _hwm_mib(pid))

    def _loop(self) -> None:
        while not self._stop.wait(POLL_SECONDS):
            self._poll()

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._poll()
        return False
