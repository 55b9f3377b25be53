"""Per-layer metrics of a traced run.

Layers are named after the engine's modules. Each value is folded from
what the traced run collected outside the engine: the benchmark's spans,
the Spark event log (task metrics and Python SQL metrics, attributed to
spans through job tags), streaming progress, and the counting FS. Only
the timed rounds count; set-up, warm-up and the gate are excluded.
Counts, bytes and times are per timed round, since the number of rounds
in a run depends on how fast it goes.
"""

from __future__ import annotations

import glob
import os
from typing import Any

from perfbench.trace import (
    attribute_jobs, fold_event_log, fold_progress, tail_percentile,
    union_length)

_SPAN_STATS = ("jobs", "tasks", "failed_tasks", "executor_run_s",
               "executor_cpu_s", "gc_s", "shuffle_write_bytes",
               "shuffle_read_bytes", "spill_bytes", "input_bytes",
               "output_bytes", "output_records", "python_rows",
               "python_bytes_sent", "python_bytes_received")

FS_OPS = ("create_exclusive", "replace", "read_text", "listdir",
          "write_bytes")

# name -> unit, in the order BENCHMARK.json lists them
UNITS: dict[str, str] = {
    "session.get_spark_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "sources.events": "count",
    "sources.payload_bytes": "bytes",
    "sources.existing_key_share": "ratio",
    "sources.micro_batches": "count",
    "sources.latest_offset_s": "s",
    "sources.query_planning_s": "s",
    "sources.wal_commit_s": "s",
    "sources.commit_offsets_s": "s",
    **{f"pipeline.apply_batch.{k}": u for k, u in (
        ("calls", "count"), ("busy_s", "s"), ("self_s", "s"),
        ("jobs", "count"), ("tasks", "count"))},
    "pipeline.conflict_retries": "count",
    "pipeline.epoch_samples": "count",
    "pipeline.epoch_tail_pct": "percentile",
    "pipeline.epoch_tail_s": "s",
    **{f"table.merge_batch.{k}": u for k, u in (
        ("calls", "count"), ("busy_s", "s"), ("self_s", "s"),
        ("jobs", "count"), ("tasks", "count"), ("executor_run_s", "s"),
        ("executor_cpu_s", "s"), ("gc_s", "s"),
        ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("input_bytes", "bytes"),
        ("output_bytes", "bytes"), ("rows_written_per_event", "rows/event"))},
    "table.read.busy_s": "s",
    "table.read.files_listed": "count",
    "table.read.files_read": "count",
    "table.read.file_skip_ratio": "ratio",
    "table.read.executor_run_s": "s",
    "table.read.shuffle_read_bytes": "bytes",
    "table.delta_depth_max": "count",
    "table.manifest_bytes": "bytes",
    "table.compact.busy_s": "s",
    "table.compact.bytes_rewritten": "bytes",
    "table.changes_between.busy_s": "s",
    "table.changes_between.rows": "count",
    **{f"fs.{op}.{k}": u for op in FS_OPS
       for k, u in (("calls", "count"), ("bytes", "bytes"), ("busy_s", "s"))},
    "fs.delete.calls": "count",
    "fs.delete.busy_s": "s",
    "fs.manifest_bytes_per_commit": "bytes",
    "udfs.python_rows": "count",
    "udfs.python_bytes_sent": "bytes",
    "udfs.python_bytes_received": "bytes",
    "udfs.rows_per_event": "rows/event",
    "diff.busy_s": "s",
    "diff.shuffle_bytes": "bytes",
    "diff.rows_compared": "count",
    "changelog.replicate.busy_s": "s",
    "changelog.replicate.versions": "count",
    "changelog.replicate.events": "count",
    "spark.jobs": "count",
    "spark.failed_tasks": "count",
    "spark.gc_s": "s",
    "trace.unattributed_share": "ratio",
}

# values that are not sums over the timed rounds
_PER_RUN = {"session.get_spark_s", "session.jvm_peak_rss_mb",
            "sources.existing_key_share", "pipeline.epoch_samples",
            "pipeline.epoch_tail_pct",
            "pipeline.epoch_tail_s", "table.merge_batch.rows_written_per_event",
            "table.read.file_skip_ratio", "table.delta_depth_max",
            "table.manifest_bytes", "fs.manifest_bytes_per_commit",
            "udfs.rows_per_event", "trace.unattributed_share"}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _zero() -> dict:
    return {"calls": 0, "busy_s": 0.0, "self_s": 0.0,
            **{k: 0 for k in _SPAN_STATS}}


def span_totals(tracer: Any, jobs: dict[int, dict]) -> dict[str, dict]:
    """Per span name: calls, busy and self time, and the Spark work of
    every job launched inside a span of that name (inclusive of nested
    spans; a job counts once per name on its span chain)."""
    kids = tracer.children()
    by_id = {s.sid: s for s in tracer.spans}
    out: dict[str, dict] = {}
    for s in tracer.spans:
        if s.end is None:
            continue
        t = out.setdefault(s.name, _zero())
        t["calls"] += 1
        t["busy_s"] += s.duration
        t["self_s"] += tracer.self_time(s, kids)
    for jid, sid in attribute_jobs(tracer, jobs).items():
        names = set()
        while sid is not None:
            names.add(by_id[sid].name)
            sid = by_id[sid].parent
        j = jobs[jid]
        for name in names:
            t = out[name]
            t["jobs"] += 1
            for k in _SPAN_STATS[1:]:
                t[k] += j[k]
    return out


def unattributed_share(tracer: Any, progress: dict) -> float:
    """Share of timed-operation wall time that no layer span and no
    streaming trigger phase outside ``addBatch`` (which the
    ``pipeline.apply_batch`` spans already cover) accounts for."""
    kids = tracer.children()
    phases = sum(v for k, v in progress["phases"].items()
                 if k not in ("addBatch", "triggerExecution"))
    total = covered = 0.0
    for s in tracer.spans:
        if s.parent is not None or s.end is None:
            continue
        total += s.duration
        covered += union_length([(c.start, c.end) for c in kids.get(s.sid, [])
                                 if c.end is not None])
    return max(0.0, total - covered - phases) / total if total else 0.0


def layer_metrics(bench: Any, setup: dict, rss_mb: float,
                  logdir: str) -> dict[str, Any]:
    files = glob.glob(os.path.join(logdir, "*"))
    jobs: dict[int, dict] = {}
    for path in files:
        with open(path) as f:
            jobs.update(fold_event_log(f))
    tracer = bench.tracer
    spans = span_totals(tracer, jobs)

    def sp(name: str) -> dict:
        return spans.get(name, _zero())

    prog = fold_progress(bench.progress)
    acc = bench.acc
    events = acc["events"]
    merge, apply_, read = (sp("table.merge_batch"), sp("pipeline.apply_batch"),
                           sp("table.read"))
    # every job of a timed operation counts once, under its root span
    op_names = {s.name for s in tracer.spans if s.parent is None}
    total = {k: sum(sp(n)[k] for n in op_names) for k in _SPAN_STATS}
    pct, tail, n_epochs = tail_percentile(bench.epochs)
    hops = {s.sid for s in tracer.spans if s.name == "changelog.replicate"}
    hop_events = sum(s.attrs.get("events", 0) for s in tracer.spans
                     if s.name == "table.merge_batch" and s.parent in hops)
    fs = bench.fs_counts
    create = fs.get("create_exclusive", {"calls": 0, "bytes": 0})
    diff = sp("diff.diff_tables")
    out: dict[str, Any] = {
        "session.get_spark_s": setup["session_s"],
        "session.jvm_peak_rss_mb": rss_mb,
        "sources.events": events,
        "sources.payload_bytes": acc["payload_bytes"],
        "sources.existing_key_share": bench.key_share,
        "sources.micro_batches": len(prog["epochs"]),
        "sources.latest_offset_s": prog["phases"]["latestOffset"],
        "sources.query_planning_s": prog["phases"]["queryPlanning"],
        "sources.wal_commit_s": prog["phases"]["walCommit"],
        "sources.commit_offsets_s": prog["phases"]["commitOffsets"],
        **{f"pipeline.apply_batch.{k}": apply_[k]
           for k in ("calls", "busy_s", "self_s", "jobs", "tasks")},
        "pipeline.conflict_retries": sum(p.conflict_retries
                                         for p in bench.pipelines),
        "pipeline.epoch_samples": n_epochs,
        "pipeline.epoch_tail_pct": pct,
        "pipeline.epoch_tail_s": tail or 0.0,
        **{f"table.merge_batch.{k}": merge[k]
           for k in ("calls", "busy_s", "self_s", "jobs", "tasks",
                     "executor_run_s", "executor_cpu_s", "gc_s",
                     "shuffle_write_bytes", "shuffle_read_bytes",
                     "spill_bytes", "input_bytes", "output_bytes")},
        "table.merge_batch.rows_written_per_event":
            _ratio(merge["output_records"], events),
        "table.read.busy_s": read["busy_s"],
        "table.read.files_listed": acc["files_listed"],
        "table.read.files_read": acc["files_read"],
        "table.read.file_skip_ratio":
            1 - _ratio(acc["files_read"], acc["files_listed"]),
        "table.read.executor_run_s": read["executor_run_s"],
        "table.read.shuffle_read_bytes": read["shuffle_read_bytes"],
        "table.delta_depth_max": acc["delta_depth_max"],
        "table.manifest_bytes": acc["manifest_bytes"],
        "table.compact.busy_s": sp("table.compact")["busy_s"],
        "table.compact.bytes_rewritten": sp("table.compact")["output_bytes"],
        "table.changes_between.busy_s": sp("table.changes_between")["busy_s"],
        "table.changes_between.rows": acc["changes_rows"],
        **{f"fs.{op}.{k}": fs.get(op, {}).get(k, 0)
           for op in FS_OPS for k in ("calls", "bytes", "busy_s")},
        "fs.delete.calls": fs.get("delete", {}).get("calls", 0),
        "fs.delete.busy_s": fs.get("delete", {}).get("busy_s", 0.0),
        "fs.manifest_bytes_per_commit":
            _ratio(create["bytes"], create["calls"]),
        "udfs.python_rows": total["python_rows"],
        "udfs.python_bytes_sent": total["python_bytes_sent"],
        "udfs.python_bytes_received": total["python_bytes_received"],
        "udfs.rows_per_event": _ratio(total["python_rows"], events),
        "diff.busy_s": diff["busy_s"],
        "diff.shuffle_bytes": diff["shuffle_write_bytes"],
        "diff.rows_compared": acc["diff_rows"],
        "changelog.replicate.busy_s": sp("changelog.replicate")["busy_s"],
        "changelog.replicate.versions": acc["replicated_versions"],
        "changelog.replicate.events": hop_events,
        "spark.jobs": total["jobs"],
        "spark.failed_tasks": total["failed_tasks"],
        "spark.gc_s": total["gc_s"],
        "trace.unattributed_share": unattributed_share(tracer, prog),
    }
    assert list(out) == list(UNITS), set(out) ^ set(UNITS)
    out = {k: v if k in _PER_RUN else v / bench.rounds
           for k, v in out.items()}
    out["_units"] = UNITS
    return out
