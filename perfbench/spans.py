"""Spans recorded from the benchmark's own files around calls into each
engine module, with Spark jobs and stage metrics attributed to them.

A span records name, start, end, parent and run id, plus any counts the
caller attaches. Spans stay in memory and are written out once, when
the run ends. Jobs are tied to the span that submitted them through a
per-span job group (``spark.jobGroup.id``) and
``statusTracker().getJobIdsForGroup``; jobs submitted from threads the
engine owns (streaming micro-batches, pools) carry no group and are
attributed to the innermost span whose time window holds their
submission time. Stage metrics come from the Spark UI's REST API, which
only the traced run enables.

With tracing disabled ``span`` yields a throwaway record and costs two
clock reads, so untraced runs pay nothing measurable.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import itertools
import json
import threading
import time
import urllib.request

STAGE_FIELDS = {
    # REST stage field -> per-layer metric suffix, scale
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "jvmGcTime": ("gc_s", 1e-3),
    "executorRunTime": ("executor_run_s", 1e-3),
    "numFailedTasks": ("tasks_failed", 1),
    "inputBytes": ("input_bytes", 1),
}
SPARK_METRICS = sorted({m for m, _ in STAGE_FIELDS.values()} | {"scheduler_delay_s"})


class Span(dict):
    """One span; ``count`` accumulates named counters on it."""

    def count(self, key: str, value: float = 1) -> None:
        counts = self.setdefault("counts", {})
        counts[key] = counts.get(key, 0) + value


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._client = threading.get_ident()
        self._client_stack: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._client:
            return self._client_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> Span | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        # a callback thread with no open span of its own is working for
        # the closed-loop client thread's innermost open span
        return self._client_stack[-1] if self._client_stack else None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield Span(name=name)
            return
        parent = self._parent()
        sp = Span(name=name, id=next(self._ids), parent=parent["id"] if parent else None,
                  run=self.run_id, group=None, jobs=[])
        sc = self.spark.sparkContext if self.spark is not None else None
        prev_group = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc is not None:
            sp["group"] = f"{self.run_id}-{sp['id']}"
            sc.setLocalProperty("spark.jobGroup.id", sp["group"])
        stack = self._stack()
        stack.append(sp)
        sp["wall_start"] = time.time()
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            sp["wall_end"] = time.time()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
                sp["jobs"] = list(sc.statusTracker().getJobIdsForGroup(sp["group"]))
            with self._lock:
                self.spans.append(sp)

    # ---------------------------------------------------------- patching

    def patch(self, owner: object, attr: str, make) -> None:
        """Replace ``owner.attr`` (a module attribute or dict entry) with
        ``make(original)`` until ``unpatch``; a missing attribute is left
        alone, so its spans read zero."""
        get = owner.get if isinstance(owner, dict) else functools.partial(getattr, owner)
        fn = get(attr, None)
        if fn is None:
            return
        self._set(owner, attr, functools.wraps(fn)(make(fn)))
        self._patched.append((owner, attr, fn))

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """``patch`` with a wrapper that opens span ``name`` per call."""

        def make(fn):
            def traced(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)

            return traced

        self.patch(owner, attr, make)

    @staticmethod
    def _set(owner, attr, value) -> None:
        if isinstance(owner, dict):
            owner[attr] = value
        else:
            setattr(owner, attr, value)

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            self._set(owner, attr, fn)
        self._patched.clear()

    # ------------------------------------------------------- attribution

    def attribute_stages(self) -> None:
        """Pull jobs and stages from the REST API and add each span's
        own Spark metrics (``spark`` key) and job/stage counts."""
        if not self.enabled or self.spark is None:
            return
        sc = self.spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        expected = {j for sp in self.spans for j in sp["jobs"]}
        jobs = []
        for _ in range(50):  # the UI listener trails the scheduler
            jobs = _get(f"{base}/jobs")
            done = {j["jobId"] for j in jobs if j["status"] != "RUNNING"}
            if expected <= done:
                break
            time.sleep(0.1)
        stages = {}
        for st in _get(f"{base}/stages"):
            stages.setdefault(st["stageId"], []).append(st)
        by_group = {sp["group"]: sp for sp in self.spans}
        ordered = sorted(self.spans, key=lambda s: s["wall_start"])
        for sp in self.spans:
            sp["spark"] = {m: 0.0 for m in SPARK_METRICS}
            sp["jobs"], sp["stages"] = [], 0
        for job in jobs:
            sp = by_group.get(job.get("jobGroup"))
            if sp is None:
                sub = _ts(job.get("submissionTime"))
                inside = [s for s in ordered if s["wall_start"] <= sub <= s["wall_end"]]
                if not inside:
                    continue
                sp = max(inside, key=lambda s: s["wall_start"])
            sp["jobs"].append(job["jobId"])
            for sid in job["stageIds"]:
                for st in stages.get(sid, []):
                    sp["stages"] += 1
                    for field, (metric, scale) in STAGE_FIELDS.items():
                        sp["spark"][metric] += st.get(field, 0) * scale
                    launched, submitted = _ts(st.get("firstTaskLaunchedTime")), _ts(st.get("submissionTime"))
                    if launched and submitted:
                        sp["spark"]["scheduler_delay_s"] += max(0.0, launched - submitted)

    # ----------------------------------------------------------- queries

    def finished(self, name: str) -> list[Span]:
        return [s for s in self.spans if s["name"] == name]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part its children cover."""
        kids = sorted((c["start"], c["end"]) for c in self.spans if c.get("parent") == sp["id"])
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
        return (sp["end"] - sp["start"]) - covered

    def dump(self, path: str, extra: dict) -> None:
        out = []
        for sp in sorted(self.spans, key=lambda s: s["start"]):
            rec = {k: v for k, v in sp.items() if k not in ("wall_start", "wall_end")}
            rec["duration_s"] = sp["end"] - sp["start"]
            rec["self_s"] = self.self_time(sp)
            out.append(rec)
        with open(path, "w") as f:
            json.dump({**extra, "spans": out}, f, indent=1)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def _ts(value: str | None) -> float:
    """REST timestamps look like ``2026-01-02T03:04:05.678GMT``."""
    if not value:
        return 0.0
    return dt.datetime.strptime(value, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc).timestamp()
