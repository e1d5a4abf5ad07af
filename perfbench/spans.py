"""Spans and Spark counters recorded from outside the engine.

A ``Tracer`` wraps the benchmark's calls into the engine's public
functions.  Each ``span`` records name, start, end, parent and the id of
the operation it belongs to, plus the Spark counters (jobs, stages, tasks,
executor CPU/run/GC time, shuffle, spill and input bytes) accumulated
between its start and end.  Counters come from the status tracker (job and
stage ids) and the UI's REST API (per-stage metrics), sampled after the
listener bus has drained so that every finished stage is visible.

With tracing off, ``span`` only times the call: nothing is sampled, no
span is kept, and the untraced run pays one ``perf_counter`` pair.
Everything stays in memory until the run ends; ``layers.py`` then turns
the spans into per-layer metrics and the detail line lists them.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from dataclasses import dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "cpu_s", "run_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
)


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    attrs: dict[str, object] = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


class SparkCounters:
    """Cumulative stage counters of one SparkContext, read incrementally."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._bus = sc._jsc.sc().listenerBus()
        self._url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
        self._seen_jobs: set[int] = set()
        # a stage reused by a later job is listed again there (skipped)
        self._seen_stages: set[tuple[int, int]] = set()
        self._totals = dict.fromkeys(COUNTERS, 0.0)

    def _stage(self, stage_id: int) -> list[dict]:
        url = f"{self._url}/{stage_id}?details=false"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def sample(self) -> dict[str, float]:
        """Totals over every job finished so far."""
        self._bus.waitUntilEmpty()
        new = [
            j for j in self._tracker.getJobIdsForGroup(None)
            if j not in self._seen_jobs
        ]
        for job_id in sorted(new):
            info = self._tracker.getJobInfo(job_id)
            if info is None or info.status not in ("SUCCEEDED", "FAILED"):
                continue  # still running: picked up by a later sample
            self._seen_jobs.add(job_id)
            t = self._totals
            t["jobs"] += 1
            for stage_id in info.stageIds:
                for att in self._stage(stage_id):
                    key = (stage_id, att["attemptId"])
                    ran = att["status"] in ("COMPLETE", "FAILED")
                    if not ran or key in self._seen_stages:
                        continue  # skipped, or counted with an earlier job
                    self._seen_stages.add(key)
                    t["stages"] += 1
                    t["tasks"] += att["numCompleteTasks"] + att["numFailedTasks"]
                    t["cpu_s"] += att["executorCpuTime"] / 1e9
                    t["run_s"] += att["executorRunTime"] / 1e3
                    t["gc_s"] += att["jvmGcTime"] / 1e3
                    t["shuffle_read_bytes"] += att["shuffleReadBytes"]
                    t["shuffle_write_bytes"] += att["shuffleWriteBytes"]
                    t["spill_bytes"] += att["diskBytesSpilled"]
                    t["input_bytes"] += att["inputBytes"]
        return dict(self._totals)


class Tracer:
    """Times every span; with ``enabled`` also keeps spans and counters."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: SparkCounters | None = None
        self.overhead_s = 0.0  # time spent sampling counters
        self._stack: list[int] = []
        self._op = 0

    def attach(self, spark) -> None:
        """Read counters from ``spark`` (call again after a restart)."""
        if self.enabled:
            self.counters = SparkCounters(spark)

    def new_op(self) -> int:
        self._op += 1
        return self._op

    def _sample(self) -> dict[str, float]:
        if self.counters is None:
            return {}
        t0 = time.perf_counter()
        out = self.counters.sample()
        self.overhead_s += time.perf_counter() - t0
        return out

    @contextlib.contextmanager
    def span(self, name: str, op: int = 0):
        """Time the block; yields the span so callers can add attributes."""
        if not self.enabled:
            sp = Span(name, op, None, time.perf_counter())
            yield sp
            sp.end = time.perf_counter()
            return
        before = self._sample()
        sp = Span(name, op, self._stack[-1] if self._stack else None, 0.0)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            after = self._sample()
            sp.counters = {k: after[k] - before.get(k, 0.0) for k in after}

    def self_times(self, root: Span) -> dict[str, float]:
        """Self time per layer of ``root`` and its descendants.

        A span's self time is its duration minus what its children cover;
        children of one span never overlap (one closed-loop client), so
        the self times add up to the root's duration exactly.
        """
        index = {id(s): i for i, s in enumerate(self.spans)}
        ri = index[id(root)]
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}

        def walk(i: int) -> None:
            s = self.spans[i]
            own = s.seconds - sum(k.seconds for k in kids.get(i, []))
            out[s.layer] = out.get(s.layer, 0.0) + own
            for k in kids.get(i, []):
                walk(index[id(k)])

        walk(ri)
        return out

    def find(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]
