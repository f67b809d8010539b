"""Per-layer spans for the traced run.

Spans are opened by the benchmark around calls into the package's
public functions; layers the pipeline calls internally are reached by
swapping the module attribute the caller looks up for a timing wrapper,
for the traced jobs only. Spark is lazy, so a span around a function
that returns a DataFrame splits in two: ``plan_s`` times the call
itself (it should be ~0; a large value means eager work at plan
construction) and ``exec_s`` times persisting and counting its output.

Every span sets the Spark job group, so after the run the jobs and
stages of Spark's status API (the UI's REST endpoint, on only in the
traced run) are attributed to the innermost span that started them.
Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import re
import time
import urllib.parse
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    job: int
    start: float = 0.0
    end: float = 0.0
    plan_s: float = 0.0
    exec_s: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value


class NullTracer:
    """The untraced path: the same calls, no spans, no extra work."""

    active = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield Span(-1, name, None, -1)

    def lazy(self, span: Span, thunk):
        return thunk()

    def timed(self, span: Span, key: str, thunk):
        return thunk()


class Tracer(NullTracer):
    active = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.job = -1
        self.cached: list = []
        self.cache_baseline = 0

    def set_group(self, gid: str) -> None:
        self.sc.setJobGroup(gid, gid)

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self.stack[-1].id if self.stack else None, self.job)
        self.spans.append(s)
        self.stack.append(s)
        self.set_group(f"pb-{s.id}")
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            self.set_group(f"pb-{self.stack[-1].id}" if self.stack else "pb-none")

    def timed(self, span: Span, key: str, thunk):
        t0 = time.perf_counter()
        try:
            return thunk()
        finally:
            setattr(span, key, getattr(span, key) + time.perf_counter() - t0)

    def lazy(self, span: Span, thunk):
        """plan_s: build the DataFrame; exec_s: persist and count it."""
        df = self.timed(span, "plan_s", thunk)
        t0 = time.perf_counter()
        df = df.persist()
        span.add("rows_out", df.count())
        span.exec_s += time.perf_counter() - t0
        self.cached.append(df)
        return df

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    def storage_bytes(self) -> int:
        """Bytes held by cached RDDs right now (memory plus disk)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def wrap_lazy(self, name: str, fn, after=None):
        """A stand-in for ``fn`` (a function returning a DataFrame) that
        records a ``name`` span with the plan/exec split."""

        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                out = self.lazy(s, lambda: fn(*args, **kwargs))
                if after is not None:
                    after(s, out, *args, **kwargs)
            return out

        return wrapper

    def wrap_eager(self, name: str, fn, before=None, after=None):
        """A stand-in for ``fn`` (an action) recording a ``name`` span
        whose whole duration is exec_s."""

        def wrapper(*args, **kwargs):
            if before is not None:
                before(*args, **kwargs)
            with self.span(name) as s:
                out = self.timed(s, "exec_s", lambda: fn(*args, **kwargs))
                if after is not None:
                    after(s, out, *args, **kwargs)
            return out

        return wrapper

    def self_s(self, span: Span) -> float:
        return span.dur - sum(c.dur for c in self.spans if c.parent == span.id)

    # ------------------------------------------------------------------
    # Spark status API
    # ------------------------------------------------------------------
    def attach_spark_status(self, timeout: float = 20.0) -> bool:
        """Fetch jobs, stages and SQL executions from the UI's REST API
        and sum each into the span whose job group started it. Returns
        False when no local UI is reachable."""
        url = self.sc.uiWebUrl
        host = urllib.parse.urlparse(url).hostname if url else None
        if host not in ("localhost", "127.0.0.1"):
            return False
        api = f"{url}/api/v1/applications/{self.sc.applicationId}"

        def get(path):
            with urllib.request.urlopen(api + path, timeout=timeout) as r:
                return json.load(r)

        # the UI store is fed by an asynchronous listener: wait until it
        # has seen every job the driver finished
        deadline = time.time() + timeout
        while True:
            jobs = get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.2)
        stages: dict[int, list[dict]] = {}
        for st in get("/stages"):
            stages.setdefault(st["stageId"], []).append(st)
        by_span = {s.id: s for s in self.spans}
        owner: dict[int, int] = {}
        job_span: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            sid = _group_span(j, by_span)
            if sid is None:
                continue
            job_span[j["jobId"]] = sid
            span = by_span[sid]
            span.add("spark_jobs", 1)
            for stage in j["stageIds"]:
                if stage in owner or all(a["status"] == "SKIPPED" for a in stages.get(stage, [])):
                    continue
                owner[stage] = sid
                for a in stages[stage]:
                    span.add("input_bytes", a["inputBytes"])
                    span.add("shuffle_write_bytes", a["shuffleWriteBytes"])
                    span.add("spill_bytes", a["diskBytesSpilled"])
                    span.add("gc_s", a["jvmGcTime"] / 1000)
                    span.add("task_s", a["executorRunTime"] / 1000)
                    span.add("tasks", a["numTasks"])
                    span.add("failed_tasks", a["numFailedTasks"])
                    if a.get("submissionTime") and a.get("firstTaskLaunchedTime"):
                        span.add("scheduler_wait_s", _ts(a["firstTaskLaunchedTime"]) - _ts(a["submissionTime"]))
        for ex in get("/sql?details=true&planDescription=false&offset=0&length=1000000"):
            spans = {job_span[j] for j in ex.get("successJobIds", []) if j in job_span}
            if len(spans) != 1:
                continue
            span = by_span[spans.pop()]
            for node in ex.get("nodes", []):
                for m in node["metrics"]:
                    if node["nodeName"] == "BroadcastExchange" and m["name"] == "data size":
                        span.add("broadcast_bytes", _size(m["value"]))
                    elif "Scan" in node["nodeName"] and m["name"] == "number of output rows":
                        span.add("scan_rows", _rows(m["value"]))
            for key, value in _theta_join_counts(ex).items():
                span.add(key, value)
        return True

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": [
                {**s.__dict__, "self_s": self.self_s(s)} for s in self.spans
            ]}, fh, indent=1)


def _theta_join_counts(ex: dict) -> dict:
    """Pairs a BroadcastNestedLoopJoin of one SQL execution evaluated
    (streamed rows x broadcast rows) and emitted, from the plan graph's
    row metrics. Rows of a side are read off the nearest node at or
    below it that reports them (codegen'd projections report none)."""
    nodes = {n["nodeId"]: n for n in ex.get("nodes", [])}
    children: dict[int, list[int]] = {}
    for e in ex.get("edges", []):  # data flows fromId (child) -> toId
        children.setdefault(e["toId"], []).append(e["fromId"])

    def rows(nid):
        todo = [nid]
        while todo:
            n = nodes.get(todo.pop(0))
            if n is None:
                continue
            for m in n["metrics"]:
                if m["name"] == "number of output rows":
                    return _rows(m["value"])
            todo.extend(children.get(n["nodeId"], []))
        return 0

    out = {"theta_pairs": 0, "theta_matched": 0}
    for nid, n in nodes.items():
        if n["nodeName"] != "BroadcastNestedLoopJoin":
            continue
        sides = children.get(nid, [])
        built = [c for c in sides if nodes.get(c, {}).get("nodeName") == "BroadcastExchange"]
        if len(sides) != 2 or len(built) != 1:
            continue
        streamed = next(c for c in sides if c != built[0])
        out["theta_pairs"] += rows(streamed) * rows(built[0])
        out["theta_matched"] += rows(nid)
    return out


def _group_span(job: dict, by_span: dict) -> int | None:
    m = re.fullmatch(r"pb-(\d+)", job.get("jobGroup") or "")
    return int(m.group(1)) if m and int(m.group(1)) in by_span else None


def _ts(s: str) -> float:
    return dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").timestamp()


def _rows(text: str) -> int:
    """'4,400' -> 4400 (the first figure of the metric string)."""
    m = re.search(r"\d[\d,]*", text)
    return int(m.group(0).replace(",", "")) if m else 0


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _size(text: str) -> float:
    """'113.8 KiB' -> bytes; a metric 'total (min, med, max)' string
    contributes its first (total) figure."""
    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)", text)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0
