"""Spans around the benchmark's calls into the program's layers.

A span records name, start, end, parent and request id, and gives the
calls inside it their own Spark job group (a thread-local property, so
the two serve clients never share one). Everything stays in memory
while the workload runs; :meth:`Tracer.finish` attributes Spark jobs to
spans through ``statusTracker()`` and reads job intervals and stage
metrics from the status REST API once, at the end.

``NullTracer`` is what untraced runs use: its spans are no-ops, it sets
no job group and the session keeps the UI off.
"""

from __future__ import annotations

import calendar
import itertools
import json
import threading
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

_GROUP = "perfbench-{}"


@dataclass
class Span:
    sid: int
    name: str
    req: int | None
    parent: int | None
    t0: float = 0.0
    t1: float = 0.0
    w0: float = 0.0  # epoch seconds, comparable with Spark job times
    w1: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class NullTracer:
    enabled = False

    def span(self, name: str, req: int | None = None):
        return nullcontext()

    def catalyst(self, df, req: int | None) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.ui_port = urllib.parse.urlparse(self.sc.uiWebUrl).port
        self.spans: list[Span] = []
        self.phases: dict[int, dict[str, float]] = {}
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self._kids: dict[int | None, list[Span]] = {}
        self.bookkeeping_s = 0.0
        self._seq = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, req: int | None = None):
        b0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if req is None and parent is not None:
            req = parent.req
        s = Span(next(self._seq), name, req, parent.sid if parent else None)
        self.sc.setJobGroup(_GROUP.format(s.sid), name)
        stack.append(s)
        s.w0, s.t0 = time.time(), time.perf_counter()
        try:
            yield s
        finally:
            s.t1, s.w1 = time.perf_counter(), time.time()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(_GROUP.format(parent.sid), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(s)
                self.bookkeeping_s += (s.t0 - b0) + (time.perf_counter() - s.t1)

    def catalyst(self, df, req: int | None) -> None:
        """Catalyst phase times of an executed DataFrame, from its
        ``QueryExecution`` tracker."""
        b0 = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for p in ("analysis", "optimization", "planning"):
            o = phases.get(p)
            if o.isDefined():
                out[p] = float(o.get().durationMs())
        with self._lock:
            self.phases[req] = out
            self.bookkeeping_s += time.perf_counter() - b0

    def _api(self, path: str):
        url = f"http://localhost:{self.ui_port}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=60) as resp:
            return json.load(resp)

    def finish(self) -> None:
        """Attribute jobs to spans and load job and stage records."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # the UI store lags the listener bus; wait it out
            time.sleep(2.0)
        st = self.sc.statusTracker()
        for s in self.spans:
            s.jobs = list(st.getJobIdsForGroup(_GROUP.format(s.sid)))
            self._kids.setdefault(s.parent, []).append(s)
        for j in self._api("jobs"):
            self.jobs[int(j["jobId"])] = j
        for st_ in self._api("stages"):
            if st_.get("status") == "COMPLETE":
                self.stages[int(st_["stageId"])] = st_

    # ---- queries over finished spans -------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree_jobs(self, span: Span) -> list[int]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.extend(s.jobs)
            todo.extend(self._kids.get(s.sid, []))
        return out

    def job_stages(self, job_ids) -> list[dict]:
        sids = {sid for j in job_ids for sid in self.jobs.get(j, {}).get("stageIds", [])}
        return [self.stages[s] for s in sorted(sids) if s in self.stages]

    def stage_sum(self, job_ids, key: str) -> float:
        return float(sum(st.get(key, 0) or 0 for st in self.job_stages(job_ids)))

    def driver_gap_ms(self, span: Span) -> float:
        """Span wall time minus the union of its jobs' run intervals."""
        ivs = []
        for j in self.subtree_jobs(span):
            rec = self.jobs.get(j)
            if rec and rec.get("submissionTime") and rec.get("completionTime"):
                a = max(_epoch(rec["submissionTime"]), span.w0)
                b = min(_epoch(rec["completionTime"]), span.w1)
                if b > a:
                    ivs.append((a, b))
        busy, end = 0.0, float("-inf")
        for a, b in sorted(ivs):
            if b > end:
                busy += b - max(a, end)
                end = b
        return max(0.0, (span.w1 - span.w0) - busy) * 1000.0

    def self_ms(self, span: Span) -> float:
        """A span's duration minus the part its child spans cover."""
        kids = sorted((c.t0, c.t1) for c in self._kids.get(span.sid, []))
        covered, end = 0.0, float("-inf")
        for a, b in kids:
            if b > end:
                covered += b - max(a, end)
                end = b
        return span.ms - covered * 1000.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "sid": s.sid,
                            "name": s.name,
                            "req": s.req,
                            "parent": s.parent,
                            "start": s.w0,
                            "end": s.w1,
                            "jobs": s.jobs,
                        }
                    )
                    + "\n"
                )


def _epoch(ts: str) -> float:
    """Spark REST time ("2026-01-02T03:04:05.678GMT") to epoch seconds."""
    base, ms = ts.replace("GMT", "").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(ms) / 1000.0

