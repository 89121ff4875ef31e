"""In-memory span tracer for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own code: :meth:`Tracer.wrap`
replaces a function or method at the place the engine looks it up (for
example ``serve.make_segment_kernel``, which ``serve.py`` imported by name)
with a wrapper that records a span. Nothing in ``pg_textsearch_spark`` is
edited, and the untraced runs never install a wrapper.

A span is (id, parent id, name, start, end, attrs). Self time is a span's
duration minus the part covered by its direct children. Spans stay in
memory and :meth:`Tracer.dump` writes them out once, at the end.

Executor-side numbers (build, merge and Spark query stages) come from a
Spark event log; see :func:`read_event_log`.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[list] = []     # [id, parent, name, t0, t1, attrs]
        self._stack: list[int] = []
        self._undo: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        rec = [sid, parent, name, time.perf_counter(), None, attrs]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec[4] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Record a span ``name`` around every call of ``owner.attr``.
        ``after(rec, args, result)`` may add attrs to the finished span."""
        orig = getattr(owner, attr)
        raw = vars(owner).get(attr)
        static = isinstance(raw, staticmethod)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
            if after is not None:
                after(rec, args, out)
            return out

        setattr(owner, attr, staticmethod(wrapped) if static else wrapped)
        self._undo.append((owner, attr, raw if static else orig))

    def wrap_factory(self, owner, attr: str, name: str, after=None) -> None:
        """``owner.attr`` returns a function (a kernel); record a span
        ``name + "_setup"`` around the factory call and a span ``name``
        around every call of each function it returns."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def factory(*args, **kwargs):
            with tracer.span(name + "_setup"):
                fn = orig(*args, **kwargs)

            def traced(*a, **kw):
                with tracer.span(name) as rec:
                    out = fn(*a, **kw)
                if after is not None:
                    after(rec, a, out)
                return out
            return traced

        setattr(owner, attr, factory)
        self._undo.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- analysis -----------------------------------------------------------
    def self_times(self, roots: str | None = None) -> dict[str, float]:
        """name -> summed self time (s), over the spans under root spans
        named ``roots`` (all spans when None), roots included."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s[1] >= 0 and s[4] is not None:
                child_time[s[1]] += s[4] - s[3]
        keep = None
        if roots is not None:
            keep = set()
            for s in self.spans:
                if s[2] == roots or (s[1] in keep):
                    keep.add(s[0])
        out = defaultdict(float)
        for s in self.spans:
            if s[4] is None or (keep is not None and s[0] not in keep):
                continue
            out[s[2]] += (s[4] - s[3]) - child_time[s[0]]
        return dict(out)

    def find(self, name: str) -> list[list]:
        return [s for s in self.spans if s[2] == name and s[4] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, name, t0, t1, attrs in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent,
                                    "name": name, "start": t0, "end": t1,
                                    "attrs": attrs}) + "\n")


def read_event_log(path: str) -> dict:
    """Per job group: jobs, tasks, stage wall times, executor run time,
    shuffle bytes written and per-task run times, from one uncompressed
    Spark event log. Job groups are set by the benchmark around each phase
    (``SparkContext.setJobGroup``)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "tasks": 0, "run_ms": 0.0, "shuffle_write": 0,
        "stages": {}})
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if not g:
                    continue
                groups[g]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                if g is None:
                    continue
                m = ev.get("Task Metrics") or {}
                run = float(m.get("Executor Run Time", 0))
                sw = int((m.get("Shuffle Write Metrics") or {})
                         .get("Shuffle Bytes Written", 0))
                grp = groups[g]
                grp["tasks"] += 1
                grp["run_ms"] += run
                grp["shuffle_write"] += sw
                st = grp["stages"].setdefault(ev["Stage ID"], {
                    "task_ms": [], "shuffle_write": 0, "wall_s": 0.0})
                st["task_ms"].append(run)
                st["shuffle_write"] += sw
            elif kind == "SparkListenerStageCompleted":
                info = ev.get("Stage Info") or {}
                sid = info.get("Stage ID")
                g = stage_group.get(sid)
                if g is None:
                    continue
                st = groups[g]["stages"].setdefault(sid, {
                    "task_ms": [], "shuffle_write": 0, "wall_s": 0.0})
                t0 = info.get("Submission Time")
                t1 = info.get("Completion Time")
                if t0 and t1:
                    st["wall_s"] += (t1 - t0) / 1000.0
    return dict(groups)
