"""Traced runs: spans around calls into each engine layer, recorded from the
benchmark's own files (the engine is not modified), plus Spark job and task
figures parsed from the session's event log.

A wrapper is installed at the module attribute the caller actually
resolves. ``runner`` binds ``apply_epoch`` and the ``source`` functions at
import, so those are patched on ``cdc_engine.runner`` as well as on their
defining modules; ``prepare_epoch``, ``commit_prepared`` and the ``curate``
stage functions are imported inside function bodies, so the defining module
is patched. Spans are kept in memory and written out when the run ends.

Functions that return lazy DataFrames (``read_seq_range``, ``lww_dedup``,
``pii_scrub`` and the curate stage builders other than
``connected_components``, which runs its rounds eagerly) are marked
``lazy``: their span covers query planning only; the Spark work runs in a
later job.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

LAZY = {
    "source.read_seq_range", "dedup.lww_dedup", "textops.pii_scrub",
    "textops.quality_funnel", "dedup_text.exact_dedup_canonical",
    "dedup_text.jaccard_on_lsh", "dedup_text.lsh_candidate_pairs",
    "sampling.split_column",
}

# lazy builders whose results are kept, so their row counts can be taken
# after the traced window
CAPTURE = {"dedup_text.lsh_candidate_pairs", "dedup_text.jaccard_on_lsh"}


@dataclass
class Span:
    sid: int
    name: str
    t0: float
    t1: float
    parent: int | None
    thread: int
    op: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


def _targets():
    """(owner, attribute, span name, result hook) for every traced call."""
    import cdc_engine.apply as apply
    import cdc_engine.curate as curate
    import cdc_engine.dedup as dedup
    import cdc_engine.dedup_text as dedup_text
    import cdc_engine.runner as runner
    import cdc_engine.sampling as sampling
    import cdc_engine.source as source
    import cdc_engine.textops as textops
    from cdc_engine.lake import SnapLake
    from cdc_engine.mview import IncrementalAggView

    n_results = lambda a, kw, r: {"n": len(r)}  # noqa: E731
    applied = lambda a, kw, r: {"applied": r is not None}  # noqa: E731
    t = [
        (runner, "replay", "runner.replay", n_results),
        (runner, "apply_epoch", "apply.apply_epoch", applied),
        (apply, "apply_epoch", "apply.apply_epoch", applied),
        (apply, "prepare_epoch", "apply.prepare_epoch", None),
        (apply, "commit_prepared", "apply.commit_prepared", applied),
        (runner, "list_segments", "source.list_segments", None),
        (source, "list_segments", "source.list_segments", None),
        (runner, "partition_pid_bounds", "source.partition_pid_bounds", None),
        (source, "partition_pid_bounds", "source.partition_pid_bounds", None),
        (runner, "read_seq_range", "source.read_seq_range", None),
        (source, "read_seq_range", "source.read_seq_range", None),
        (apply, "lww_dedup", "dedup.lww_dedup", None),
        (dedup, "lww_dedup", "dedup.lww_dedup", None),
        (SnapLake, "merge", "lake.merge", None),
        (SnapLake, "maybe_compact", "lake.maybe_compact", None),
        (SnapLake, "compact", "lake.compact",
         lambda a, kw, r: {"buckets": len(kw.get("buckets", a[2] if len(a) > 2 else []))}),
        (SnapLake, "lookup", "lake.lookup", None),
        (SnapLake, "changes", "lake.changes", None),
        (SnapLake, "scan", "lake.scan", None),
        (SnapLake, "touched_buckets_between", "lake.touched_buckets_between",
         lambda a, kw, r: {"touched": None if r is None else len(r),
                           "n_buckets": a[0].manifest(a[2])["n_buckets"]}),
        (IncrementalAggView, "incremental_refresh", "mview.incremental_refresh",
         lambda a, kw, r: {"mode": r.get("mode")}),
        (IncrementalAggView, "full_refresh", "mview.full_refresh", None),
        (curate, "curate", "curate.curate", None),
        (textops, "pii_scrub", "textops.pii_scrub", None),
        (textops, "quality_funnel", "textops.quality_funnel", None),
        (dedup_text, "exact_dedup_canonical", "dedup_text.exact_dedup_canonical", None),
        (dedup_text, "jaccard_on_lsh", "dedup_text.jaccard_on_lsh", None),
        (dedup_text, "lsh_candidate_pairs", "dedup_text.lsh_candidate_pairs", None),
        (dedup_text, "connected_components", "dedup_text.connected_components", None),
        (sampling, "split_column", "sampling.split_column", None),
    ]
    return t


class Tracer:
    """In-memory span recorder. ``install`` wraps the engine's public
    functions; ``remove`` restores them. A span opened on a worker thread
    with no open span of its own (a replay pipeline worker) takes as parent
    the innermost span open on the main thread, which waits for it.
    ``install`` runs on the main thread."""

    def __init__(self):
        self.spans: list[Span] = []
        self.op: str | None = None
        self.t0_perf = time.perf_counter()
        self.t0_wall = time.time()
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple] = []
        self.captured: dict[str, list] = {}  # CAPTURE name -> results

    def wall(self, t_perf: float) -> float:
        return self.t0_wall + (t_perf - self.t0_perf)

    def install(self) -> None:
        self._main_stack = self._tls.__dict__.setdefault("stack", [])
        for owner, attr, name, hook in _targets():
            orig = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(orig, name, hook, name in CAPTURE))
            self._saved.append((owner, attr, orig))

    def remove(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def _wrap(self, fn, name, hook, capture):
        tracer = self

        def traced(*a, **kw):
            stack = tracer._tls.__dict__.setdefault("stack", [])
            sid = next(tracer._ids)
            if stack:
                parent = stack[-1]
            elif threading.current_thread() is not threading.main_thread():
                # a pool worker: its work was caused by the span the main
                # thread is waiting in
                parent = (tracer._main_stack[-1:] or [None])[0]
            else:
                parent = None
            span = Span(sid, name, time.perf_counter(), 0.0, parent,
                        threading.get_ident(), tracer.op)
            stack.append(sid)
            r = None
            try:
                r = fn(*a, **kw)
                return r
            finally:
                span.t1 = time.perf_counter()
                stack.pop()
                if hook is not None:
                    try:
                        span.attrs.update(hook(a, kw, r))
                    except (TypeError, AttributeError, KeyError, IndexError):
                        pass
                with tracer._lock:
                    tracer.spans.append(span)
                    if capture:
                        tracer.captured.setdefault(name, []).append(r)

        traced.__wrapped__ = fn
        return traced

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of its interval its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur = 0.0, None
            for c in sorted(kids.get(s.sid, []), key=lambda c: c.t0):
                lo, hi = max(c.t0, s.t0), min(c.t1, s.t1)
                if hi <= lo:
                    continue
                if cur is None or lo > cur[1]:
                    covered += 0 if cur is None else cur[1] - cur[0]
                    cur = [lo, hi]
                else:
                    cur[1] = max(cur[1], hi)
            covered += 0 if cur is None else cur[1] - cur[0]
            out[s.sid] = s.dur - covered
        return out

    def dump(self, path: str, jobs: list[dict]) -> None:
        selft = self.self_times()
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.t0):
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
                    "thread": s.thread, "start_s": round(s.t0 - self.t0_perf, 6),
                    "end_s": round(s.t1 - self.t0_perf, 6),
                    "self_s": round(selft[s.sid], 6), "lazy": s.name in LAZY,
                    "attrs": s.attrs,
                }) + "\n")
            for j in jobs:
                fh.write(json.dumps({"job": j["id"], "layer": j.get("layer"),
                                     "submit_s": round(j["submit"] - self.t0_wall, 6),
                                     "end_s": round(j["end"] - self.t0_wall, 6)}) + "\n")


# ------------------------------------------------------------ event log


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        # Spark 4.1 writes zstd-compressed rolling logs by default
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_eventlog(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from every event log under ``log_dir``; times are
    seconds since the epoch."""
    jobs: dict[tuple, dict] = {}
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path) as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue  # a partially flushed last line
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    jobs[(app, e["Job ID"])] = {
                        "id": f"{app}:{e['Job ID']}", "submit": e["Submission Time"] / 1e3,
                        "end": e["Submission Time"] / 1e3,
                        "stages": [(app, s) for s in e.get("Stage IDs", [])],
                    }
                elif ev == "SparkListenerJobEnd" and (app, e["Job ID"]) in jobs:
                    jobs[(app, e["Job ID"])]["end"] = e["Completion Time"] / 1e3
                elif ev == "SparkListenerTaskEnd":
                    info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": (app, e["Stage ID"]),
                        "dur": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
    return list(jobs.values()), tasks


def attribute_jobs(tracer: Tracer, jobs: list[dict]) -> None:
    """Tag each job with the innermost span whose interval holds its
    submission (job call sites name Spark's thread-capture lambda, not the
    Python caller, so attribution goes by time)."""
    spans = [(tracer.wall(s.t0), tracer.wall(s.t1), s) for s in tracer.spans]
    for j in jobs:
        inside = [s for lo, hi, s in spans if lo <= j["submit"] <= hi]
        if inside:
            inner = min(inside, key=lambda s: s.dur)
            j["layer"] = inner.name
            j["spans"] = {s.name for s in inside}


def session_metrics(jobs: list[dict], tasks: list[dict], lo: float, hi: float) -> dict:
    keep = [j for j in jobs if lo <= j["submit"] <= hi]
    stages = {s for j in keep for s in j["stages"]}
    tk = [t for t in tasks if t["stage"] in stages]
    by_stage: dict = {}
    for t in tk:
        by_stage.setdefault(t["stage"], []).append(t["dur"])
    skew = 0.0
    if by_stage:
        big = max(by_stage.values(), key=sum)
        med = statistics.median(big)
        skew = max(big) / med if med > 0 else 1.0
    return {
        "jobs": keep,
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tk),
        "spill_bytes": sum(t["spill"] for t in tk),
        "task_skew": skew,
    }


def median_dur(spans: list[Span]) -> float:
    return statistics.median(s.dur for s in spans) if spans else 0.0
