"""Tracing for the benchmark's traced passes.

Spans are recorded from outside the program: wrappers are patched onto
module attributes of the layers' public functions only while a traced
pass runs, and removed after it, so untraced passes run the program
unchanged. Spark's own work is read per op from the driver's REST
status API, streaming progress from a StreamingQueryListener.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
import urllib.request
from collections import Counter
from datetime import datetime, timezone

from perfbench.stats import covered


class Tracer:
    """In-memory spans (id, parent id, name, start, end) plus counters."""

    def __init__(self):
        self.spans: list[tuple[int, int | None, str, float, float]] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append((sid, parent, name, t0, t1))

    def _patch(self, owner, attr: str, make_wrapper) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make_wrapper(orig)))
        self._patches.append((owner, attr, orig))

    def _timed(self, owner, attr: str, name: str) -> None:
        def make(orig):
            def wrapper(*args, **kwargs):
                with self.span(name):
                    return orig(*args, **kwargs)

            return wrapper

        self._patch(owner, attr, make)

    def install(self) -> None:
        """Patch the layer boundaries. Functions the program imports
        inside a call (advisor, ranks, workcache) are looked up at call
        time, so patching the module attribute reaches them."""
        from pyspark.sql.classic.dataframe import DataFrame

        from bqfetch_spark import fetcher, workcache
        from bqfetch_spark.plans import advisor, ranks

        self._timed(fetcher.Fetcher, "chunks", "fetcher.chunks")
        self._timed(fetcher.Fetcher, "fetch_to_pandas", "fetcher.fetch_to_pandas")
        self._timed(DataFrame, "toArrow", "spark.toArrow")
        self._timed(advisor, "estimated_materialized_bytes", "plans.estimate_bytes")
        self._timed(ranks, "with_ntile_auto", "plans.ntile_build")

        def session_workdir(orig):
            def wrapper(tag, key, build):
                # a miss shows as a new _BUILT entry, counted with the memos
                if (tag, key) in workcache._BUILT:
                    self.counts["workcache.hits"] += 1
                with self.span("workcache.session_workdir"):
                    return orig(tag, key, build)

            return wrapper

        def overwrite_workdir(orig):
            def wrapper(tag, key):
                self.counts["workcache.builds"] += 1
                with self.span("workcache.overwrite_workdir"):
                    return orig(tag, key)

            return wrapper

        self._patch(workcache, "session_workdir", session_workdir)
        self._patch(workcache, "overwrite_workdir", overwrite_workdir)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _children(self) -> dict[int, list[tuple[float, float]]]:
        children: dict[int, list[tuple[float, float]]] = {}
        for _sid, parent, _name, t0, t1 in self.spans:
            if parent is not None:
                children.setdefault(parent, []).append((t0, t1))
        return children

    def self_durations(self, name: str | None = None) -> list[tuple[str, float]]:
        """(name, self time) of each span, or of each span called name:
        its duration minus the part its child spans cover."""
        children = self._children()
        return [
            (n, (t1 - t0) - covered(children.get(sid, ()), t0, t1))
            for sid, _p, n, t0, t1 in self.spans
            if name is None or n == name
        ]

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for _s, _p, n, t0, t1 in self.spans if n == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {"id": s, "parent": p, "name": n, "start": t0, "end": t1}
                    for s, p, n, t0, t1 in self.spans
                ],
                fh,
            )


def _rest_time(stamp: str | None) -> float | None:
    if not stamp:
        return None
    # e.g. "2026-10-17T12:40:01.123GMT"
    dt = datetime.strptime(stamp[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class SparkRest:
    """Per-op diffs of the driver's REST status API (jobs and stages)."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.skip()

    def skip(self) -> None:
        """Leave out of the next diff every job started so far."""
        self.last_job = max((j["jobId"] for j in self._get("/jobs")), default=-1)

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as resp:
            return json.load(resp)

    def diff(self, e0: float, e1: float) -> dict:
        """Spark work of the jobs started since the previous diff, for
        an op that ran over the epoch interval [e0, e1]. Call it after
        draining the listener bus, so the status store is up to date."""
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self.last_job]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        out = {
            "jobs": len(jobs),
            "tasks": 0,
            "failed_tasks": 0,
            "run_s": 0.0,
            "cpu_s": 0.0,
            "input_records": 0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
        }
        if stage_ids:
            for st in self._get("/stages"):
                if st["stageId"] not in stage_ids or st["status"] not in ("COMPLETE", "FAILED"):
                    continue
                out["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                out["failed_tasks"] += st["numFailedTasks"]
                out["run_s"] += st["executorRunTime"] / 1e3
                out["cpu_s"] += st["executorCpuTime"] / 1e9
                out["input_records"] += st["inputRecords"]
                out["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
                out["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 1e6
        spans = []
        for j in jobs:
            a, b = _rest_time(j.get("submissionTime")), _rest_time(j.get("completionTime"))
            if a is not None and b is not None:
                spans.append((a, b))
        out["driver_self_s"] = max(0.0, (e1 - e0) - covered(spans, e0, e1))
        if jobs:
            self.last_job = max(j["jobId"] for j in jobs)
        return out


def streaming_listener():
    """A StreamingQueryListener that keeps every progress event. Events
    arrive on Spark's listener bus; drain the bus before reading them."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.progress.append(
                    {"rows": p.numInputRows, "duration_ms": dict(p.durationMs)}
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()
