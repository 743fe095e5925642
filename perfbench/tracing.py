"""Tracing for the ``--trace 1`` run: spans, per-span Spark job groups,
counters, and the Spark event log read back after the session stops.

Spans are recorded from the benchmark's own files, around the calls it
makes into each package layer (and, in the traced run only, around a few
package functions it wraps from the outside; see ``instrument``).  They
are kept in memory and written out when the run ends.  Each span has a
name, start, end, parent span and the id of the operation it belongs to;
a span that can launch Spark jobs gets its own job group, so jobs,
stages, tasks, Python-worker time and bytes can be attributed to it.

With tracing off every hook is a shared no-op context, no job group is
set and the event log stays off.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict

_NULL = contextlib.nullcontext()


class Tracer:
    """Span recorder.  ``Tracer(None)`` is the disabled tracer."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_op = 0
        self.counters: dict[str, float] = defaultdict(float)
        self.active: dict[str, int] = defaultdict(int)  # counter nesting depth

    # -- spans -----------------------------------------------------------
    def span(self, name: str, op: bool = False, spark: bool = True):
        """Context for one span.  ``op=True`` starts a new operation id;
        ``spark=True`` gives the span its own Spark job group."""
        if not self.enabled:
            return _NULL
        return self._span(name, op, spark)

    @contextlib.contextmanager
    def _span(self, name: str, op: bool, spark: bool):
        parent = self._stack[-1] if self._stack else None
        if op or parent is None:
            self._next_op += 1
            op_id = self._next_op
        else:
            op_id = parent["op"]
        rec = {
            "id": len(self.spans),
            "op": op_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": None,
        }
        self.spans.append(rec)
        if spark:
            rec["group"] = f"pb-{rec['id']}"
            self._set_group(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if spark:
                outer = next((s for s in reversed(self._stack) if s["group"]), None)
                self._set_group(outer and outer["group"], outer and outer["name"])

    def _set_group(self, group, description) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", description)

    # -- Spark attribution ----------------------------------------------
    def collect_status(self) -> None:
        """Jobs, stages and tasks per span from ``statusTracker``.  Call
        once, before the session stops, after the listener bus drained."""
        if not self.enabled:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if not rec["group"]:
                continue
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stages, tasks = 0, 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def attach_event_log(self, log_dir: str) -> dict:
        """Per-group task metrics from the event log (read after the
        session stopped, so the log is complete).  Returns whole-run
        totals; per-group figures are stored on the spans."""
        groups = read_event_log(log_dir)
        for rec in self.spans:
            rec["ev"] = groups.get(rec["group"], _empty_group())
        total = _empty_group()
        for g in groups.values():
            _merge(total, g)
        return total

    # -- queries over the recorded spans --------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, rec: dict) -> list[dict]:
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out, todo = [], [rec]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s["id"]])
        return out

    def spark_totals(self, *recs: dict) -> dict:
        """Jobs/stages/tasks and event-log figures of the given spans and
        all their descendants."""
        tot = _empty_group()
        tot.update(jobs=0, stages=0, tasks=0)
        for rec in recs:
            for s in self.subtree(rec):
                for key in ("jobs", "stages", "tasks"):
                    tot[key] += s.get(key, 0)
                if "ev" in s:
                    _merge(tot, s["ev"])
        return tot

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        kids = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - kids[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {
                **{k: v for k, v in s.items() if k != "ev"},
                "start": s["start"] - t0,
                "end": s["end"] - t0,
                "python_ms": s.get("ev", {}).get("python_ms", 0.0),
                "shuffle_bytes": s.get("ev", {}).get("shuffle_bytes", 0),
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(
                {"spans": spans, "self_s": self.self_times(), "counters": self.counters},
                f,
            )


def _empty_group() -> dict:
    return {
        "python_ms": 0.0,
        "python_start_ms": 0.0,
        "to_python_bytes": 0,
        "shuffle_bytes": 0,
        "output_bytes": 0,
        "input_bytes": 0,
        "gc_ms": 0.0,
        "python_stages": set(),
        "task_ms": defaultdict(list),  # stage id -> task durations
        "n_tasks": 0,
        "n_jobs": 0,
    }


def _merge(into: dict, g: dict) -> None:
    for key in (
        "python_ms", "python_start_ms", "to_python_bytes", "shuffle_bytes",
        "output_bytes", "input_bytes", "gc_ms", "n_tasks", "n_jobs",
    ):
        into[key] += g[key]
    into["python_stages"] |= g["python_stages"]
    for sid, ds in g["task_ms"].items():
        into["task_ms"][sid].extend(ds)


def read_event_log(log_dir: str) -> dict[str | None, dict]:
    """Task metrics per job group from the (uncompressed) event log."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, dict] = defaultdict(_empty_group)
    with open(logs[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                groups[group]["n_jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = groups[stage_group.get(sid)]
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", ())}
                if "time to run Python workers" in acc:
                    g["python_ms"] += float(acc["time to run Python workers"])
                    g["python_stages"].add(sid)
                g["python_start_ms"] += float(acc.get("time to start Python workers", 0))
                g["to_python_bytes"] += int(acc.get("data sent to Python workers", 0))
                g["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                g["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                g["gc_ms"] += tm.get("JVM GC Time", 0)
                g["task_ms"][sid].append(info["Finish Time"] - info["Launch Time"])
                g["n_tasks"] += 1
    return groups


def task_skew(g: dict) -> float:
    """Max ÷ median task duration of the group's busiest stage."""
    busiest = max(g["task_ms"].values(), key=sum, default=[])
    if len(busiest) < 2:
        return 1.0
    return max(busiest) / max(statistics.median(busiest), 1)


# -- wrapping package functions from the outside (traced run only) ------
def _wrap_span(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)

    return wrapper


def _wrap_counter(tracer: Tracer, name: str, fn):
    """Count calls and inclusive milliseconds; nested calls under the
    same counter name are charged once, to the outermost call."""

    @functools.wraps(fn)
    def wrapper(*a, **kw):
        if tracer.active[name]:
            return fn(*a, **kw)
        tracer.active[name] += 1
        t = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            tracer.active[name] -= 1
            tracer.counters[f"{name}.calls"] += 1
            tracer.counters[f"{name}.ms"] += (time.perf_counter() - t) * 1e3

    return wrapper


SERVE_KERNELS = (
    "_score_union_exhaustive", "_score_union_maxscore", "_score_union_blockmax",
    "_score_intersection", "_score_intersection_blockmax", "_eval_bool_blockmax",
    "_phrase_match_counts", "_topk",
)
DECODERS = ("decode_postings", "decode_postings_many", "decode_block", "decode_position_lists")


def instrument(tracer: Tracer):
    """Wrap package entry points with spans/counters; returns the undo
    callable.  Build stages get a span (and job group) each, so their
    write jobs — which carry no Python call site — are attributed too."""
    from hail_elasticsearch_pipelines_spark.functions import codecs
    from hail_elasticsearch_pipelines_spark.operators import serve
    from hail_elasticsearch_pipelines_spark.plans import pipeline

    patches = [
        (pipeline.IndexBuildPipeline, "_stage_normalize", lambda f: _wrap_span(tracer, "build.docs", f)),
        (pipeline.IndexBuildPipeline, "_stage_docs", lambda f: _wrap_span(tracer, "build.docs", f)),
        (pipeline.IndexBuildPipeline, "_stage_validate", lambda f: _wrap_span(tracer, "build.validate", f)),
        (pipeline.IndexBuildPipeline, "_stage_partials", lambda f: _wrap_span(tracer, "build.partials", f)),
        (pipeline.IndexBuildPipeline, "_stage_publish", lambda f: _wrap_span(tracer, "build.publish", f)),
        (pipeline, "_write_termdict", lambda f: _wrap_span(tracer, "build.publish.termdict", f)),
        (serve.LocalSearcher, "global_dfs", lambda f: _wrap_counter(tracer, "serve.dfs", f)),
        (serve.LocalSearcher, "_term_rows", lambda f: _wrap_counter(tracer, "serve.scan", f)),
        (serve.LocalSearcher, "_rows_for", lambda f: _rows_for_counter(tracer, f)),
    ]
    patches += [(codecs, n, lambda f: _wrap_counter(tracer, "codecs.decode", f)) for n in DECODERS]
    kernel = lambda f: _wrap_counter(tracer, "serve.kernel", f)  # noqa: E731
    patches += [(serve, n, kernel) for n in SERVE_KERNELS if hasattr(serve, n)]

    saved = []
    for owner, attr, make in patches:
        orig = owner.__dict__[attr]
        saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def undo():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return undo


def _rows_for_counter(tracer: Tracer, fn):
    @functools.wraps(fn)
    def wrapper(self, terms):
        tracer.counters["serve.rows_lookups"] += len(terms)
        tracer.counters["serve.rows_hits"] += sum(t in self._rows_cache for t in terms)
        return fn(self, terms)

    return wrapper
