"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own code, around the public
calls it makes into the package, and kept in memory until the run
ends.  Each span sets its own Spark job group, so every job an action
or an eager call starts is attributed to the innermost open span of
the thread that started it; the stage counters of those jobs are read
from the driver's status REST API once the run is over.  Micro-batch
progress is collected by a Python ``StreamingQueryListener``.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming.listener import StreamingQueryListener

# stage counters summed per span: REST field -> (output name, scale)
STAGE_FIELDS = {
    "numCompleteTasks": ("tasks", 1),
    "executorRunTime": ("busy_s", 1e-3),
    "executorCpuTime": ("cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / 2**20),
    "shuffleFetchWaitTime": ("fetch_wait_s", 1e-3),
    "diskBytesSpilled": ("spill_mb", 1 / 2**20),
    "outputBytes": ("output_mb", 1 / 2**20),
}


class Span:
    __slots__ = ("id", "name", "parent", "group", "start", "end")

    def __init__(self, id_, name, parent, group, start):
        self.id, self.name, self.parent = id_, name, parent
        self.group, self.start, self.end = group, start, None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        group = f"perfbench-{sid}"
        self.sc.setJobGroup(group, name)
        s = Span(sid, name, parent.id if parent else None, group, time.perf_counter())
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # -- wrappers around public calls, installed for the traced run only --

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` (``owner[attr]`` for a dict) by a
        wrapper that runs the original inside a span; ``name`` is a
        string or ``f(*args) -> str``."""
        orig = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name(*args) if callable(name) else name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        _set(owner, attr, traced)

    def wrap_everywhere(self, package: str, func, name: str) -> None:
        """Wrap every module-level binding of ``func`` inside the
        package (``from .io import load_table`` copies the name)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(package) and getattr(mod, func.__name__, None) is func:
                self.wrap(mod, func.__name__, name)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            _set(owner, attr, orig)

    # -- derived numbers --

    def self_time(self, span: Span) -> float:
        """Span duration minus the time its direct children cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == span.id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.seconds - covered

    def dump(self, path: str) -> None:
        """Write every span as one JSON line, with its self time."""
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": sp.id, "name": sp.name, "parent": sp.parent,
                    "job_group": sp.group, "start": sp.start, "end": sp.end,
                    "self_s": self.self_time(sp)}) + "\n")

    def _get(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def group_counters(self, settle_s: float = 10.0) -> dict[str, dict[str, float]]:
        """Per job group: ``jobs`` plus the STAGE_FIELDS sums of every
        stage first run by one of the group's jobs.  Waits until the
        status store has caught up with every job the tracker knows."""
        ours = {s.group for s in self.spans}
        expect = set()
        for g in ours:
            expect.update(self.sc.statusTracker().getJobIdsForGroup(g))
        deadline = time.monotonic() + settle_s
        while True:
            jobs = self._get("jobs")
            done = {j["jobId"] for j in jobs if j["status"] != "RUNNING"}
            if expect <= done or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = {s["stageId"]: s for s in self._get("stages")
                  if s.get("status") == "COMPLETE"}
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        claimed: set[int] = set()
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            g = j.get("jobGroup")
            if g not in ours:
                continue
            out[g]["jobs"] += 1
            for sid in j["stageIds"]:
                if sid in stages and sid not in claimed:
                    claimed.add(sid)
                    for field, (key, scale) in STAGE_FIELDS.items():
                        out[g][key] += stages[sid].get(field, 0) * scale
        return out


def _set(owner, attr: str, value) -> None:
    if isinstance(owner, dict):
        owner[attr] = value
    else:
        setattr(owner, attr, value)


class ProgressCollector(StreamingQueryListener):
    """Collects every micro-batch progress and query termination."""

    def __init__(self):
        self.progress: list[dict] = []
        self.terminated: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated.add(str(event.runId))

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        """Block until ``n`` queries have reported termination (the
        listener bus delivers events asynchronously)."""
        deadline = time.monotonic() + timeout
        while len(self.terminated) < n and time.monotonic() < deadline:
            time.sleep(0.05)
