"""Span tracing from outside the program.

A :class:`Tracer` records one span per call into a layer's public
function: name, layer, start, end, parent span and op id. While a span is
open its id is the Spark job group, so every job the call triggers
(including AQE's query-stage jobs, which inherit the caller's local
properties) is attributed to the innermost open span. After each op the
tracer reads the finished jobs and their stages' task metrics from the
driver's status store through the local UI REST API; spans stay in
memory until the run ends.

Lazy work runs where it is materialized, not where its DataFrame was
built, so a workload can name the layer of a span from the call's
arguments (``wrap`` with a callable layer), e.g. the table a
``write_table`` call writes."""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone


#: longest wait for the status store to see the end of an op's jobs
COLLECT_TIMEOUT_S = 30.0


@dataclass
class Span:
    id: str
    layer: str
    name: str
    parent: str | None
    op: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class JobInfo:
    group: str | None
    start: float
    end: float
    stages: list[int]


@dataclass
class StageInfo:
    executor_run_s: float
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    output_bytes: int
    spill_bytes: int
    gc_s: float


def _ts(s: str | None) -> float:
    if not s:
        return 0.0
    return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.by_id: dict[str, Span] = {}
        self.jobs: dict[int, JobInfo] = {}
        self.stages: dict[int, StageInfo] = {}
        self.op: int | None = None
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._n = 0
        self._collected_groups: set[str] = set()
        #: seconds the tracer itself spent collecting job/stage metrics
        self.collect_s = 0.0
        self._api = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    # -- spans ------------------------------------------------------------
    def span(self, layer: str, name: str | None = None):
        return _SpanCtx(self, layer, name or layer)

    def _open(self, layer: str, name: str) -> Span:
        self._n += 1
        parent = self._stack[-1].id if self._stack else None
        sp = Span(f"perfbench-{self._n}", layer, name, parent, self.op, time.time())
        self.spans.append(sp)
        self.by_id[sp.id] = sp
        self._stack.append(sp)
        self.sc.setJobGroup(sp.id, f"{layer}:{name}")
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack.pop()
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(top.id, f"{top.layer}:{top.name}")
        else:
            self.sc._jsc.clearJobGroup()

    def wrap(self, owner, attr: str, layer, name: str | None = None) -> None:
        """Replace ``owner.attr`` with a traced wrapper. ``layer`` is a
        layer name or a callable ``(args, kwargs) -> layer name``."""
        fn = getattr(owner, attr)
        label = name or attr

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            lay = layer(args, kwargs) if callable(layer) else layer
            with self.span(lay, label):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    # -- job and stage collection ----------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._api}/{path}", timeout=30) as r:
            return json.load(r)

    def collect(self) -> None:
        """Fetch every finished job of a perfbench span, and the task
        metrics of its stages. Waits until the status store has seen the
        end of every job the tracked groups started."""
        t0 = time.perf_counter()
        tracker = self.sc.statusTracker()
        groups = [s.id for s in self.spans if s.id not in self._collected_groups]
        pending = []
        for g in groups:
            pending.extend(tracker.getJobIdsForGroup(g))
        deadline = time.monotonic() + COLLECT_TIMEOUT_S
        while time.monotonic() < deadline:
            jobs = {j["jobId"]: j for j in self._get("jobs")}
            if all(
                jid in jobs and jobs[jid].get("status") != "RUNNING"
                and jobs[jid].get("completionTime")
                for jid in pending
            ):
                break
            time.sleep(0.05)
        stage_rows = self._get("stages?status=complete")
        for st in stage_rows:
            sid = st["stageId"]
            self.stages[sid] = StageInfo(
                executor_run_s=st.get("executorRunTime", 0) / 1000.0,
                shuffle_write_bytes=st.get("shuffleWriteBytes", 0),
                shuffle_read_bytes=st.get("shuffleReadBytes", 0),
                output_bytes=st.get("outputBytes", 0),
                spill_bytes=st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0),
                gc_s=st.get("jvmGcTime", 0) / 1000.0,
            )
        for jid, j in jobs.items():
            g = j.get("jobGroup")
            if g in self.by_id and jid not in self.jobs:
                self.jobs[jid] = JobInfo(
                    g, _ts(j.get("submissionTime")), _ts(j.get("completionTime")),
                    list(j.get("stageIds", ())),
                )
                self.by_id[g].jobs.append(jid)
        self._collected_groups.update(groups)
        self.collect_s += time.perf_counter() - t0

    # -- aggregation -------------------------------------------------------
    def descendants(self, sp: Span) -> list[Span]:
        kids: dict[str | None, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out, todo = [], list(kids.get(sp.id, ()))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, ()))
        return out

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = [(s.start, s.end) for s in self.spans if s.parent == sp.id]
        return sp.duration - union_length(kids, sp.start, sp.end)

    def job_stats(self, job_ids: list[int], lo: float, hi: float) -> dict:
        """Jobs, completed stages, task metrics and the part of [lo, hi]
        no job covers (driver-side time)."""
        stages = [s for j in job_ids for s in self.jobs[j].stages if s in self.stages]
        infos = [self.stages[s] for s in stages]
        covered = union_length(
            [(self.jobs[j].start, self.jobs[j].end) for j in job_ids], lo, hi
        )
        return {
            "jobs": len(job_ids),
            "stages": len(stages),
            "executor_run_s": sum(i.executor_run_s for i in infos),
            "shuffle_write_bytes": sum(i.shuffle_write_bytes for i in infos),
            "output_bytes": sum(i.output_bytes for i in infos),
            "spill_bytes": sum(i.spill_bytes for i in infos),
            "gc_s": sum(i.gc_s for i in infos),
            "job_s": covered,
            "driver_gap_s": (hi - lo) - covered,
        }

    def subtree_jobs(self, sp: Span) -> list[int]:
        return list(sp.jobs) + [j for d in self.descendants(sp) for j in d.jobs]

    def layer_spans(self, layer: str, op: int | None = None) -> list[Span]:
        """Outermost spans attributed to ``layer`` (a span nested in
        another span of the same layer is not counted twice)."""
        out = []
        for s in self.spans:
            if s.layer != layer or (op is not None and s.op != op):
                continue
            p, nested = s.parent, False
            while p is not None:
                ps = self.by_id[p]
                if ps.layer == layer:
                    nested = True
                    break
                p = ps.parent
            if not nested:
                out.append(s)
        return out

    def cached_mb(self) -> float:
        """Executor memory held by cached partitions right now."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / 1e6


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.tracer, self.layer, self.name = tracer, layer, name
        self.sp: Span | None = None

    def __enter__(self) -> Span:
        self.sp = self.tracer._open(self.layer, self.name)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.sp)


class NullTracer:
    """Tracing off: spans cost nothing and record nothing."""

    op = None

    def span(self, layer: str, name: str | None = None):
        return _NULL

    def unwrap_all(self) -> None:
        pass

    def collect(self) -> None:
        pass


class _NullCtx:
    def __enter__(self):
        return None

    def __exit__(self, *exc) -> None:
        return None


_NULL = _NullCtx()
