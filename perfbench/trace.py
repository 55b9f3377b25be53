"""Outside-in tracing for the CDC-ingest benchmark.

Everything here observes the engine from outside its code:

- :class:`Tracer` records spans around calls into the engine's public
  functions (the benchmark's own op calls, plus wrappers it installs
  on public methods for the duration of a traced run);
- :class:`CountingFS` is handed to ``LakeTable(..., fs=...)`` and counts
  the metadata-plane operations the table performs;
- :func:`fold_event_log` folds Spark task metrics and Python-UDF SQL
  metrics out of a Spark JSON event log;
- :func:`fold_progress` sums streaming trigger phases from
  ``StreamingQuery.recentProgress``;
- :func:`tail_percentile` applies the ten-beyond rule to a sample.

Nothing in this module starts Spark, so its helpers are unit-tested
without a session (``perfbench/tests``).
"""

from __future__ import annotations

import functools
import json
import math
import threading
import time
from typing import Any, Callable


def tail_percentile(values: list[float]) -> tuple[int, float | None, int]:
    """Highest whole percentile with at least ten samples beyond it.

    Returns ``(percentile, value, sample_count)``; the value is the
    nearest-rank percentile of the sorted sample. With ten samples or
    fewer no percentile has ten samples beyond it, so the result is
    ``(0, None, n)``.
    """
    n = len(values)
    if n <= 10:
        return 0, None, n
    pct = math.floor(100 * (n - 10) / n)
    while pct > 0 and n - math.ceil(pct / 100 * n) < 10:
        pct -= 1
    if pct == 0:
        return 0, None, n
    rank = max(1, math.ceil(pct / 100 * n))
    return pct, sorted(values)[rank - 1], n


# ------------------------------------------------------------ metadata FS

class CountingFS:
    """Pass-through wrapper that counts every metadata-plane call.

    ``counts[op] = {"calls", "bytes", "busy_s"}``. Bytes are the payload
    written (``create_exclusive``, ``replace``, ``write_bytes``), read
    (``read_text``) or listed (``listdir``: the entry names' length, the
    size of a LIST response); other operations count zero bytes.
    """

    _WRITE_ARG = {"create_exclusive", "replace", "write_bytes"}

    def __init__(self, inner: Any):
        self._inner = inner
        self.counts: dict[str, dict[str, float]] = {}
        self._lock = threading.Lock()

    def __getattr__(self, name: str) -> Any:
        attr = getattr(self._inner, name)
        if name.startswith("_") or not callable(attr):
            return attr

        @functools.wraps(attr)
        def counted(*args: Any, **kwargs: Any) -> Any:
            t0 = time.perf_counter()
            out = attr(*args, **kwargs)
            dt = time.perf_counter() - t0
            if name in self._WRITE_ARG:
                data = args[1] if len(args) > 1 else kwargs["data"]
                nbytes = len(data.encode() if isinstance(data, str) else data)
            elif name == "read_text":
                nbytes = len(out.encode())
            elif name == "listdir":
                nbytes = sum(len(e.encode()) for e in out)
            else:
                nbytes = 0
            with self._lock:
                c = self.counts.setdefault(
                    name, {"calls": 0, "bytes": 0, "busy_s": 0.0})
                c["calls"] += 1
                c["bytes"] += nbytes
                c["busy_s"] += dt
            return out

        return counted


# ----------------------------------------------------------------- spans

class Span:
    """One recorded interval: its id, name, parent span, the root span of
    its operation, and start and end in seconds since the epoch."""

    __slots__ = ("sid", "name", "parent", "op", "start", "end", "attrs")

    def __init__(self, sid: int, name: str, parent: int | None,
                 op: int | None, start: float):
        self.sid, self.name, self.parent, self.op = sid, name, parent, op
        self.start, self.end = start, None
        self.attrs: dict[str, float] = {}

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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
    """In-memory span recorder.

    Spans of one timed operation share the operation's root span id
    (``Span.op``). A span opened on a thread with no open span (the
    streaming ``foreachBatch`` callback thread) is parented to the
    operation open at that moment — the benchmark runs one writer at a
    time, so at most one operation is open. When ``spark`` is given,
    each span tags the Spark jobs its thread launches with
    ``span-<id>`` so :func:`attribute_jobs` can map jobs to spans.
    """

    def __init__(self, spark: Any = None, clock: Callable[[], float] = time.time):
        self.spark = spark
        self.clock = clock
        self.spans: list[Span] = []
        self._next = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: Span | None = None
        self._patched: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, op: bool = False) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (None if op else self._op)
        with self._lock:
            sp = Span(self._next, name,
                      parent.sid if parent else None, None, self.clock())
            self._next += 1
            sp.op = sp.sid if parent is None else parent.op
            self.spans.append(sp)
            if op:
                self._op = sp
        stack.append(sp)
        if self.spark is not None:
            self.spark.sparkContext.addJobTag(f"span-{sp.sid}")
        return sp

    def end(self, sp: Span) -> None:
        sp.end = self.clock()
        stack = self._stack()
        stack.remove(sp)
        if self.spark is not None:
            self.spark.sparkContext.removeJobTag(f"span-{sp.sid}")
        if self._op is sp:
            self._op = None

    def call(self, name: str, fn: Callable[..., Any], *args: Any,
             **kwargs: Any) -> Any:
        sp = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(sp)

    def instrument(self, owner: Any, attr: str, name: str,
                   after: Callable[[Span, Any, tuple, Any], None] | None = None
                   ) -> None:
        """Wrap ``owner.attr`` in a span until :meth:`restore`.
        ``after(span, result, args, kwargs)`` may record span attributes."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args: Any, **kwargs: Any) -> Any:
            sp = tracer.begin(name)
            try:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, out, args, kwargs)
                return out
            finally:
                tracer.end(sp)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def clear(self) -> None:
        """Forget recorded spans (ids keep counting, so Spark jobs tagged
        with a forgotten span's id attribute to nothing)."""
        self.spans = []

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_time(self, sp: Span, kids: dict[int, list[Span]]) -> float:
        cover = union_length([(max(c.start, sp.start), min(c.end, sp.end))
                              for c in kids.get(sp.sid, [])
                              if c.end is not None and c.end > sp.start])
        return max(0.0, sp.duration - cover)

    def to_json(self) -> list[dict]:
        return [{"id": s.sid, "name": s.name, "parent": s.parent, "op": s.op,
                 "start": s.start, "end": s.end, "attrs": s.attrs}
                for s in self.spans]


# ------------------------------------------------------------ event log

_TASK_METRICS = (
    ("executor_run_s", lambda m: m.get("Executor Run Time", 0) / 1e3),
    ("executor_cpu_s", lambda m: m.get("Executor CPU Time", 0) / 1e9),
    ("gc_s", lambda m: m.get("JVM GC Time", 0) / 1e3),
    ("shuffle_write_bytes",
     lambda m: m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)),
    ("shuffle_read_bytes",
     lambda m: (m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
                + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0))),
    ("spill_bytes",
     lambda m: m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)),
    ("input_bytes", lambda m: m.get("Input Metrics", {}).get("Bytes Read", 0)),
    ("output_bytes", lambda m: m.get("Output Metrics", {}).get("Bytes Written", 0)),
    ("output_records",
     lambda m: m.get("Output Metrics", {}).get("Records Written", 0)),
)

# SQL metric names of the Python evaluation nodes (PythonSQLMetrics)
_PY_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
    "number of output rows": "python_rows",
}


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    if any(k in plan.get("nodeName", "") for k in ("Python", "Pandas")):
        for m in plan.get("metrics", []):
            if m.get("name") in _PY_METRICS:
                out[int(m["accumulatorId"])] = _PY_METRICS[m["name"]]
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def fold_event_log(lines: Any) -> dict[int, dict[str, Any]]:
    """Fold a Spark JSON event log into per-job records.

    ``lines`` is any iterable of the log's JSON lines. Returns
    ``{job_id: {"submit": s, "end": s, "tags": [...], "failed": bool,
    "tasks": n, "failed_tasks": n, <task metric sums>, <python SQL
    metric sums>}}`` with times in seconds since the epoch.
    """
    jobs: dict[int, dict[str, Any]] = {}
    stage_job: dict[int, int] = {}
    py_acc: dict[int, str] = {}
    metric_names = [n for n, _ in _TASK_METRICS] + list(_PY_METRICS.values())
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            tags = [t for t in (props.get("spark.job.tags") or "").split(",") if t]
            jid = ev["Job ID"]
            jobs[jid] = {"submit": ev["Submission Time"] / 1e3, "end": None,
                         "tags": tags, "failed": False, "tasks": 0,
                         "failed_tasks": 0, **{n: 0 for n in metric_names}}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j["end"] = ev["Completion Time"] / 1e3
                j["failed"] = ev["Job Result"]["Result"] != "JobSucceeded"
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            _python_accumulators(ev.get("sparkPlanInfo", {}), py_acc)
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(ev["Stage ID"], -1))
            if j is None:
                continue
            j["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                j["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            for name, get in _TASK_METRICS:
                j[name] += get(m)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = py_acc.get(int(acc.get("ID", -1)))
                if name is not None:
                    j[name] += int(acc.get("Update", 0) or 0)
    return jobs


def attribute_jobs(tracer: Tracer, jobs: dict[int, dict]) -> dict[int, int | None]:
    """Map each job to the innermost span that launched it: the
    ``span-<id>`` tag with the highest id (nested spans are opened
    later, so they have higher ids), else the innermost span whose
    interval contains the job's submission time."""
    out: dict[int, int | None] = {}
    by_id = {s.sid: s for s in tracer.spans}
    for jid, j in jobs.items():
        ids = [int(t[5:]) for t in j["tags"]
               if t.startswith("span-") and int(t[5:]) in by_id]
        if ids:
            out[jid] = max(ids)
            continue
        t = j["submit"]
        inside = [s for s in tracer.spans
                  if s.start <= t <= (s.end or s.start)]
        out[jid] = max(inside, key=lambda s: s.start).sid if inside else None
    return out


# ------------------------------------------------------- streaming phases

PHASES = ("latestOffset", "queryPlanning", "getBatch", "walCommit",
          "commitOffsets", "addBatch", "triggerExecution")


def fold_progress(progress: list[dict]) -> dict[str, Any]:
    """Sum trigger phases (seconds) over ``recentProgress`` entries and
    list each data-carrying trigger's ``triggerExecution`` time."""
    sums = {p: 0.0 for p in PHASES}
    epochs: list[float] = []
    for pr in progress:
        d = pr.get("durationMs") or {}
        for p in PHASES:
            sums[p] += d.get(p, 0) / 1e3
        if pr.get("numInputRows", 0) > 0:
            epochs.append(d.get("triggerExecution", 0) / 1e3)
    return {"phases": sums, "epochs": epochs}
