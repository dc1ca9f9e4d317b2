"""Spans around the engine's public entry points, recorded from the
benchmark's own code.

``install`` wraps the functions and methods each layer exposes; while
``Tracer.enabled`` is set every call records a span (name, start, end,
parent span, op id) in memory, and ``dump`` writes them out when the
measured process exits. With tracing disabled a wrapper costs one
attribute test. The untraced end-to-end runs never call ``install``.

Spark job and task counts come from the public status tracker: spans
at op and reader boundaries tag their jobs with a job group of their
own, and the groups are looked up once the timed passes are over.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time

_CTAS = re.compile(r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(TEMPORARY\s+)?TABLE\s", re.I)
_DROP = re.compile(r"^\s*DROP\s+TABLE\s", re.I)
_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.enabled = False
        self.spans: list[list] = []  # [name, start, end, parent, op, jobs, tasks]
        self._job_spans: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = spark.sparkContext

    def set_op(self, op_id) -> None:
        self._local.op = op_id

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name, fn, args, kwargs, jobs: bool = False):
        """Run ``fn`` inside a span. With ``jobs`` the span tags the Spark
        jobs it starts with its own job group, counted after the run."""
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        rec = [name, time.perf_counter(), 0.0, stack[-1] if stack else -1,
               getattr(self._local, "op", None), None, None]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
            if jobs:
                self._job_spans.append(idx)
        stack.append(idx)
        if jobs:
            groups = getattr(self._local, "groups", None)
            if groups is None:
                groups = self._local.groups = []
            groups.append(f"perfbench-span-{idx}")
            self._sc.setLocalProperty(_GROUP, groups[-1])
        try:
            return fn(*args, **kwargs)
        finally:
            rec[2] = time.perf_counter()
            stack.pop()
            if jobs:
                groups.pop()
                self._sc.setLocalProperty(_GROUP, groups[-1] if groups else None)

    def wrap(self, owner, attr: str, name, jobs: bool = False) -> None:
        """Replace ``owner.attr`` by a traced wrapper. ``name`` is the
        span name, or a function of the call's arguments returning it."""
        orig = getattr(owner, attr)
        namer = name if callable(name) else (lambda *a, **k: name)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            return tracer.call(namer(*args, **kwargs), orig, args, kwargs, jobs)

        setattr(owner, attr, traced)

    def count_jobs(self) -> None:
        """Fill in each job-counting span's own jobs and tasks from the
        public status tracker. Run once after the timed passes: the
        tracker's lookup by group scans every retained job, too slow to
        call inside an op."""
        status = self._sc.statusTracker()
        for idx in self._job_spans:
            ids = status.getJobIdsForGroup(f"perfbench-span-{idx}")
            tasks = 0
            for j in ids:
                info = status.getJobInfo(j)
                for s in (info.stageIds if info else ()):
                    st = status.getStageInfo(s)
                    tasks += st.numTasks if st else 0
            self.spans[idx][5], self.spans[idx][6] = len(ids), tasks

    def dump(self, path: str) -> None:
        self.count_jobs()
        keys = ("name", "start", "end", "parent", "op", "jobs", "tasks")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)


def _execute_name(session, query, *a, **k) -> str:
    if _CTAS.match(query):
        return "sqlfront.ctas"
    if _DROP.match(query):
        return "sqlfront.drop"
    return "sqlfront.execute"


def install(tracer: Tracer, rest: bool, op_functions=()) -> None:
    """Wrap the layer entry points. ``rest`` adds the REST handler, which
    takes the op id from the client's ``X-Bench-Op`` header.
    ``op_functions`` lists ``(module, function name)`` of the ``ops``
    calls the curation workload makes."""
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from drill_spark import server, sqlfront
    from drill_spark.readers import files
    from drill_spark.session import DrillSession

    tracer.wrap(DrillSession, "sql", "session.sql")
    tracer.wrap(sqlfront, "execute", _execute_name)
    tracer.wrap(sqlfront, "rewrite", "sqlfront.rewrite")
    tracer.wrap(files, "read_auto", "readers.read_auto", jobs=True)
    tracer.wrap(SparkSession, "sql", "exec.analyze")
    tracer.wrap(DataFrame, "collect", "exec.action")
    tracer.wrap(DataFrame, "count", "exec.action")
    for module, fn in op_functions:
        tracer.wrap(module, fn, f"ops.{module.__name__.rsplit('.', 1)[-1]}.{fn}")
    if rest:
        orig = server._Handler.do_POST

        @functools.wraps(orig)
        def do_post(handler):
            # the op id must be set before the request span opens
            tracer.set_op(handler.headers.get("X-Bench-Op"))
            if not tracer.enabled:
                return orig(handler)
            return tracer.call("server.request", orig, (handler,), {}, jobs=True)

        server._Handler.do_POST = do_post


# ---------------------------------------------------------------- analysis


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time (ms) per span name: duration minus the time its
    direct children cover (children of one span run sequentially on the
    span's thread)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - child[i]) * 1e3
    return out


def outermost(spans: list[dict], name: str) -> list[dict]:
    """Spans called ``name`` with no ancestor of the same name, so that
    recursive calls are counted once."""
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p = s["parent"]
        while p >= 0 and spans[p]["name"] != name:
            p = spans[p]["parent"]
        if p < 0:
            out.append(s)
    return out


def total_ms(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans) * 1e3


def under(spans: list[dict], root: int, names: set[str]) -> float:
    """Time (ms) of the outermost spans named in ``names`` below span
    ``root``."""
    kids: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        kids.setdefault(s["parent"], []).append(i)
    total, todo = 0.0, list(kids.get(root, ()))
    while todo:
        i = todo.pop()
        if spans[i]["name"] in names:
            total += spans[i]["end"] - spans[i]["start"]
        else:
            todo.extend(kids.get(i, ()))
    return total * 1e3
