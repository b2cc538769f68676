"""Tracing for the ``--trace 1`` run: spans recorded from the benchmark's
own files around each call into a layer of the package, Spark job counts
per span (by job group), and a streaming progress listener.

Spans are kept in memory and written out when the run ends. Each span has
a name (``<layer>.<call>``), start, end, parent span and run id; a
layer's self time is its spans' duration minus the part their direct
child spans cover (calls are sequential, so children never overlap).
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups = 0

    @contextlib.contextmanager
    def span(self, name: str, sc=None, **attrs):
        """Record one span; with ``sc`` (a SparkContext) also count the
        Spark jobs started inside it into ``jobs``. Disabled, it records
        nothing and sets no job group."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = None
        if sc is not None:
            group = f"perfbench-{self.run_id}-{self._groups}"
            self._groups += 1
            sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                sc.setLocalProperty("spark.jobGroup.id", None)

    def spans_named(self, name: str, **match) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and all(s.get(k) == v for k, v in match.items())
        ]

    def self_times(self) -> dict[str, float]:
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            out[layer] += s["end"] - s["start"] - covered[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class ProgressLog(StreamingQueryListener):
    """Every progress event of every query, so none is lost to the
    ``recentProgress`` cap of 100."""

    def __init__(self):
        self.events: list[dict] = []
        self._done: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self._cv:
            self.events.append(json.loads(event.progress.json))

    def onQueryTerminated(self, event):
        with self._cv:
            self._done.add(str(event.id))
            self._cv.notify_all()

    def wait_terminated(self, query_id: str, timeout: float = 60.0) -> None:
        """Listener events arrive asynchronously; block until the query's
        termination event (which follows its last progress event)."""
        with self._cv:
            if not self._cv.wait_for(lambda: query_id in self._done, timeout):
                raise TimeoutError(f"no termination event for query {query_id}")
