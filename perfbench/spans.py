"""Spans around the calls into each engine layer, from the driver side.

In a traced run `install` replaces the public entry points of each layer
with wrappers that open a span. The engine imports these functions from
their modules at call time (segments.build_index, Searcher.topk/preload),
so the wrappers see every call. Each span also sets its own Spark job
group, so Spark job and task counts (statusTracker) and task busy times
(the event log) can be charged to the layer that launched the job.

Spans live in memory (`Tracer.spans`) and are written once, at the end.
A span's self time is its duration minus the time covered by its child
spans. `Tracer.bookkeeping_s` is only the time spent opening and closing
spans; the event log and the argument notes cost more, so the tracing
overhead is the difference between a traced and an untraced run of the
same seed.
"""

from __future__ import annotations

import functools
import json
import os
import time


class Span:
    __slots__ = ("sid", "name", "op", "parent", "start", "end", "group", "info")

    def __init__(self, sid, name, op, parent, group):
        self.sid, self.name, self.op, self.parent, self.group = sid, name, op, parent, group
        self.start = time.perf_counter()
        self.end = None
        self.info: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder for one driver thread. Disabled tracers cost one
    attribute check per span."""

    def __init__(self, sc=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = None
        self.bookkeeping_s = 0.0

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> Span:
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.op, parent.sid if parent else None, f"pb-{len(self.spans)}")
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        self.bookkeeping_s += time.perf_counter() - t0
        s.start = time.perf_counter()
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            self.sc.setJobGroup(parent.group, parent.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.bookkeeping_s += time.perf_counter() - s.end

    # ---- post-processing -------------------------------------------------

    def self_times(self) -> dict[int, float]:
        child = {s.sid: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return {s.sid: s.dur - child[s.sid] for s in self.spans}

    def spark_counts(self) -> dict[str, dict]:
        """job group -> {jobs, tasks, failed_tasks} from the status tracker
        (call before the session stops)."""
        st = self.sc.statusTracker()
        out = {}
        for s in self.spans:
            jobs, tasks, failed = 0, 0, 0
            for jid in st.getJobIdsForGroup(s.group):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:
                        tasks += si.numTasks
                        failed += si.numFailedTasks
            out[s.group] = {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}
        return out

    def dump(self, path: str, extra: dict) -> None:
        st = self.self_times()
        rows = [
            {
                "id": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
                "start": s.start, "end": s.end, "self_s": st[s.sid],
                "group": s.group, "info": s.info,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f, default=str)


class _SpanCtx:
    __slots__ = ("t", "name", "s")

    def __init__(self, t, name):
        self.t, self.name, self.s = t, name, None

    def __enter__(self):
        if self.t.enabled:
            self.s = self.t._open(self.name)
        return self.s

    def __exit__(self, *exc):
        if self.s is not None:
            self.t._close(self.s)
        return False


def task_times(event_dir: str) -> dict[str, list[float]]:
    """job group -> task durations (s), from the Spark event log(s) in
    `event_dir` (complete once the session has stopped)."""
    stage_group: dict[int, str] = {}
    per_stage: dict[int, list[float]] = {}
    paths = [os.path.join(r, f) for r, _d, fs in os.walk(event_dir) for f in fs]
    for path in paths:
        if os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    ti = ev["Task Info"]
                    per_stage.setdefault(ev["Stage ID"], []).append(
                        (ti["Finish Time"] - ti["Launch Time"]) / 1000.0
                    )
    out: dict[str, list[float]] = {}
    for sid, durs in per_stage.items():
        g = stage_group.get(sid)
        if g:
            out.setdefault(g, []).extend(durs)
    return out


def install(tracer: Tracer) -> None:
    """Wrap each layer's public driver-side entry points (traced runs only;
    the process ends after the run, so nothing is restored)."""
    from quickb_spark.index import p1_direct, p2_direct, segments
    from quickb_spark.query import searcher, serve_direct
    from quickb_spark.streaming import incremental

    def wrap(owner, attr, name, note=None):
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name) as s:
                out = fn(*a, **kw)
                if note is not None:
                    s.info.update(note(a, kw, out))
                return out

        setattr(owner, attr, wrapper)

    wrap(segments, "build_index", "segments.build_index")
    wrap(p1_direct, "presample_hot_direct", "p1.presample",
         lambda a, kw, out: {"hot_terms": list(out[0])})
    wrap(p1_direct, "build_flat_runs", "p1.runs")
    wrap(p2_direct, "merge_encode_buckets", "p2.merge",
         lambda a, kw, out: {"buckets": len(a[4])})
    wrap(p2_direct, "encode_wave_direct", "p2.encode_wave")
    wrap(incremental, "fold_deltas_into_index", "incremental.fold",
         lambda a, kw, out: {"buckets": out})
    wrap(searcher.Searcher, "refresh", "searcher.refresh")
    wrap(searcher.Searcher, "load_lexicon", "searcher.lexicon_load")
    wrap(searcher.Searcher, "preload", "searcher.preload")
    wrap(searcher.Searcher, "topk", "searcher.topk")
    wrap(serve_direct, "preload_files", "serve.preload",
         lambda a, kw, out: {"decoded_bytes": out, "files": len(a[1])})
    wrap(serve_direct, "serve_topk_direct", "serve.job",
         lambda a, kw, out: {
             "files": list(a[1]), "terms": sorted(a[3]), "ranges": a[9],
         })

