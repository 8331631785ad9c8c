"""Spans around calls into the engine's layers, and the Spark status
REST reader that turns them into per-layer work numbers.

A span records name, start, end, parent and op id; spans of one
benchmark operation share the op id. While a span is open its Spark
jobs carry a job tag naming it (``SparkContext.addJobTag``), so after
the run every job, stage and SQL execution in the status store maps to
exactly one span. Spans stay in memory until :meth:`Tracer.dump`.

With tracing off the same call sites use :data:`OFF`, whose ``span``
is a no-op.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import json
import re
import statistics
import time
import urllib.request
from collections import defaultdict

JOB_TIME_FMT = "%Y-%m-%dT%H:%M:%S.%f%Z"


class _Off:
    enabled = False
    recording = False

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **counts):
        yield None


OFF = _Off()


class Tracer:
    """Records spans and tags the Spark jobs each one runs. While
    ``recording`` is false, ``span`` is a no-op."""

    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.recording = True
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **counts):
        if not self.recording:
            yield None
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else sid),
            "tag": f"perfbench-span-{sid}",
            "counts": dict(counts),
        }
        # only the innermost open span tags new jobs
        if parent is not None:
            self.sc.removeJobTag(parent["tag"])
        self.sc.addJobTag(rec["tag"])
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.removeJobTag(rec["tag"])
            if parent is not None:
                self.sc.addJobTag(parent["tag"])
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, count=None):
        """Replace ``owner.attr`` with a version that runs inside a span
        named ``name``; ``count(args) -> dict`` adds counters taken
        before the call. Returns an undo callable."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            extra = count(args) if count else {}
            with tracer.span(name, **extra):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapped)
        return lambda: setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class Split:
    """Times ops for a traced run. Within each op class the first op is
    traced, the next one not, and so on, so every class that runs has
    traced samples, and the traced and untraced halves see the same JVM
    warmth and table state; their latency difference is the tracing
    overhead. Without a tracer every op goes straight to ``out``."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.traced: dict[str, list[float]] = defaultdict(list)
        self.untraced: dict[str, list[float]] = defaultdict(list)
        self._seen: dict[str, int] = defaultdict(int)

    def timed(self, out, cls: str, fn, *args):
        if not self.tracer.enabled:
            return out.timed(cls, fn, *args)
        on = self._seen[cls] % 2 == 0
        self._seen[cls] += 1
        self.tracer.recording = on
        try:
            ok, ans = out.timed(cls, fn, *args)
        finally:
            self.tracer.recording = True
        if ok:
            (self.traced if on else self.untraced)[cls].append(out.samples[cls][-1])
        return ok, ans

    def overhead_frac(self) -> float:
        return overhead_frac(self.untraced, self.traced)


def overhead_frac(untraced: dict, traced: dict) -> float:
    """Traced over untraced, as the sum over op classes of each class's
    median latency, minus one."""
    classes = [c for c in untraced if traced.get(c)]
    a = sum(statistics.median(untraced[c]) for c in classes)
    b = sum(statistics.median(traced[c]) for c in classes)
    return b / a - 1.0 if a else 0.0


def _parse_job_time(s: str | None) -> float | None:
    if not s:
        return None
    t = dt.datetime.strptime(s.replace("GMT", "UTC"), JOB_TIME_FMT)
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def _metric_int(v: str) -> int:
    m = re.match(r"\s*([\d,]+)", v or "")
    return int(m.group(1).replace(",", "")) if m else 0


class RestReader:
    """One reader for the status store's ``/jobs``, ``/stages`` and
    ``/sql`` endpoints of the running application."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def settle(self, timeout_s: float = 30.0) -> list[dict]:
        """Jobs, once the status listener has caught up: no job
        running and the same job count on two reads in a row."""
        deadline = time.time() + timeout_s
        prev = -1
        while True:
            jobs = self.get("jobs")
            done = all(j.get("status") != "RUNNING" for j in jobs)
            if (done and len(jobs) == prev) or time.time() > deadline:
                return jobs
            prev = len(jobs)
            time.sleep(0.3)

    def snapshot(self) -> dict:
        jobs = self.settle()
        stages = self.get("stages")
        sql = self.get("sql?details=true&planDescription=false&offset=0&length=1000000")
        return {"jobs": jobs, "stages": stages, "sql": sql}


def attribute(spans: list[dict], snap: dict) -> dict[int, dict]:
    """Per-span work from the status store: jobs, their intervals,
    task CPU, bytes and SQL file counts, attributed by job tag to the
    innermost span. Returns span id -> own (not inclusive) work."""
    by_tag = {s["tag"]: s["id"] for s in spans}
    stage_sum: dict[int, dict] = defaultdict(lambda: defaultdict(int))
    for st in snap["stages"]:
        acc = stage_sum[st["stageId"]]
        acc["task_cpu_ms"] += st.get("executorCpuTime", 0) / 1e6
        acc["input_bytes"] += st.get("inputBytes", 0)
        acc["output_bytes"] += st.get("outputBytes", 0)
        acc["shuffle_bytes"] += st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0)
        acc["tasks"] += st.get("numCompleteTasks", 0)
    job_span: dict[int, int] = {}
    own: dict[int, dict] = defaultdict(lambda: {"jobs": 0, "intervals": [], **_zero()})
    for j in snap["jobs"]:
        sid = next((by_tag[t] for t in j.get("jobTags", []) if t in by_tag), None)
        if sid is None:
            continue
        job_span[j["jobId"]] = sid
        w = own[sid]
        w["jobs"] += 1
        t0 = _parse_job_time(j.get("submissionTime"))
        t1 = _parse_job_time(j.get("completionTime"))
        if t0 is not None and t1 is not None:
            w["intervals"].append((t0, t1))
        for stage_id in j.get("stageIds", []):
            for k, v in stage_sum.get(stage_id, {}).items():
                w[k] += v
    for ex in snap["sql"]:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        sid = next((job_span[i] for i in ids if i in job_span), None)
        if sid is None:
            continue
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                if m["name"] == "number of files read":
                    own[sid]["files_read"] += _metric_int(m["value"])
                elif m["name"] == "number of written files":
                    own[sid]["files_written"] += _metric_int(m["value"])
    return own


def _zero() -> dict:
    return dict.fromkeys(
        (
            "task_cpu_ms",
            "input_bytes",
            "output_bytes",
            "shuffle_bytes",
            "tasks",
            "files_read",
            "files_written",
        ),
        0,
    )


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length in ms of the union of ``intervals`` clipped to [lo, hi]."""
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
    return total * 1000.0


def span_table(spans: list[dict], own: dict[int, dict]) -> dict[int, dict]:
    """Per span: wall, self time (wall minus child spans), inclusive
    work (own plus descendants) and driver gap (wall minus the union of
    its jobs' run intervals: planning plus metadata I/O).

    A job tagged to a span is stamped by the status store at
    millisecond grain, so intervals are widened by the store's 1 ms
    rounding before they are checked against the span."""
    children: dict[int, list[int]] = defaultdict(list)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])

    out: dict[int, dict] = {}

    def visit(sid: int) -> dict:
        if sid in out:
            return out[sid]
        s = by_id[sid]
        wall = (s["end"] - s["start"]) * 1000.0
        inc = {"jobs": 0, "intervals": [], **_zero()}
        mine = own.get(sid)
        for src in [mine] + [visit(c)["inc"] for c in children[sid]]:
            if not src:
                continue
            for k, v in src.items():
                inc[k] = inc[k] + v if k != "intervals" else inc[k] + list(v)
        child_wall = sum(
            (by_id[c]["end"] - by_id[c]["start"]) * 1000.0 for c in children[sid]
        )
        # a job stamped outside its own span (beyond the store's 1 ms
        # grain) would mean attribution or clock mismatch
        outside = 0.0
        for a, b in (mine or {}).get("intervals", []):
            outside = max(outside, (s["start"] - a) * 1000.0 - 1.0, (b - s["end"]) * 1000.0 - 1.0)
        out[sid] = {
            "name": s["name"],
            "op": s["op"],
            "parent": s["parent"],
            "wall_ms": wall,
            "self_ms": wall - child_wall,
            "job_ms": _union_ms(inc["intervals"], s["start"], s["end"]),
            "inc": inc,
            "counts": s["counts"],
            "outside_ms": max(0.0, outside),
        }
        out[sid]["driver_gap_ms"] = wall - out[sid]["job_ms"]
        return out[sid]

    for s in spans:
        visit(s["id"])
    return out


def check_ops(table: dict[int, dict]) -> dict:
    """Per op (a root span and its descendants): the self times of all
    its spans must add up to the root's wall time, and no tagged job may
    run outside its span. Returns the worst residual and excursion."""
    roots = [t for t in table.values() if t["parent"] is None]
    by_op: dict[int, list[dict]] = defaultdict(list)
    for t in table.values():
        by_op[t["op"]].append(t)
    worst = 0.0
    for r in roots:
        members = by_op[r["op"]]
        worst = max(worst, abs(sum(m["self_ms"] for m in members) - r["wall_ms"]))
    return {
        "ops": len(roots),
        "max_residual_ms": worst,
        "max_job_outside_ms": max((t["outside_ms"] for t in table.values()), default=0.0),
    }


def by_name(table: dict[int, dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = defaultdict(list)
    for t in table.values():
        out[t["name"]].append(t)
    return out
