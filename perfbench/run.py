#!/usr/bin/env python3
"""CDC-ingest benchmark.

    python3 perfbench/run.py --workload {bulk_cow,trickle_mor}
                             --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. The benchmark generates its
inputs from ``--seed`` inside this process, drives the engine only
through its public API, checks the final state against an independent
DuckDB reference (``perfbench/gate.py``) and prints, as its last line,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end metrics listed in
``BENCHMARK.json``; ``--trace 1`` runs the same workload with spans,
the Spark event log, streaming progress and a counting metadata FS, and
prints the per-layer metrics instead.

Every workload is a closed loop with one writer. A run starts the
session, generates its inputs, seeds a template table and runs
untimed warm-up rounds, identical to timed ones; then it runs timed
rounds until at least ``--seconds`` of operation time is measured, and
gates the last round's final state. Each round starts from a zero-copy
clone of the template, so every round does the same work: the
workload's writer, then the same probes on every workload — a full
scan, single-bucket reads, a narrow event-time window and a validation
diff; a CoW round runs its probes three times. Rounds are kept short so
that a run measures several of them, and each timing is the mean over
the run. Traced runs add, per round, ``changes_between`` over
the writer's commits, a replicate hop and a compaction; the last
warm-up round's maintenance runs outside ``setup_s``, so that traced
and untraced runs do the same set-up work.

Every file the run writes lives under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from datetime import datetime, timezone
from typing import Any, Callable

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "work")

WORKLOADS = ("bulk_cow", "trickle_mor")

# Sizes are scaled down from single-run probes (50k pages, 64 buckets,
# 200k-event logs) so that a run ends well inside a minute on a 4-core
# host, where every engine operation costs seconds of fixed per-job
# overhead: one batch that rewrites every bucket (bulk_cow) against a
# backlog of small epochs (trickle_mor). At these sizes the per-batch
# fixed cost is most of bulk_cow's apply too: on the 4-core reference
# host a 150-event and a 96,000-event log both apply in about 3 s.
N_PAGES = 3000          # seeded pages; every event key is one of them
N_BUCKETS = 8           # two buckets per core on the 4-core reference host
LOG_EVENTS = 1500       # bulk_cow's one batch == trickle_mor's backlog
SEGMENT_EVENTS = 500    # one log segment == one trickle_mor micro-batch
# Untimed warm-up rounds. The JVM keeps compiling for the first 30-40 s
# of operations: on the 4-core reference host a CoW round's scan fell
# from 0.32 s to 0.22 s and its writer from 3.0 s to 1.9 s over the
# first ten rounds. How far a run got along that curve depends on how
# busy the host was; with one warm-up round, ten CoW runs spread
# 0.16-0.24 (quartile distance over median), with three 0.06-0.13.
# trickle_mor's rounds are about twice as long, and a second warm-up
# round did not narrow its spread (0.13-0.25 against 0.08-0.15).
WARMUP_ROUNDS = {"bulk_cow": 3, "trickle_mor": 1}
# Probe sets per round. A CoW probe takes 0.1-0.6 s, so a CoW round
# repeats its probes to sample more of the run; trickle_mor's probes on
# unfolded deltas take 0.5-1.5 s each.
PROBE_SETS = {"bulk_cow": 3, "trickle_mor": 1}
SCANS = 1               # probes of each kind in a probe set
POINT_READS = 2
WINDOW_READS = 1
VALIDATIONS = 1
WINDOW_S = 3600         # width of a narrow ts_between window

E2E_UNITS = {
    "setup_s": "s", "events_per_s": "events/s", "epoch_s": "s",
    "scan_s": "s", "point_read_s": "s", "window_read_s": "s",
    "validate_s": "s", "write_amp": "bytes/byte",
}
# operations whose time counts toward --seconds
TIMED = ("writer_s", "scan_s", "point_read_s", "window_read_s",
         "validate_s")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def host_info() -> dict[str, Any]:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    return {"cpus": len(os.sched_getaffinity(0)), "mem_mb": mem_kb // 1024}


def jvm_peak_rss_mb(spark: Any) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("VmHWM:"))
    return kb / 1024


def start_session(host: dict, trace: bool) -> tuple[Any, float]:
    """``local[cpus]`` with one shuffle partition per core, an explicit
    heap well below physical memory, and every scratch path inside the
    checkout."""
    from cassandra_data_migrator_spark import session

    tmp = os.path.join(WORK, "tmp")
    # get_spark ships the package as a zip to the UDF workers
    session.package_zip = functools.partial(session.package_zip, out_dir=tmp)
    # the environment's scratch dirs would override spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    conf = {
        "spark.driver.memory": f"{min(4096, host['mem_mb'] // 4)}m",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        logdir = os.path.join(WORK, "eventlog")
        os.makedirs(logdir)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + logdir
        # one plain JSON-lines file, which trace.fold_event_log reads
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    t0 = time.perf_counter()
    spark = session.get_spark(
        "perfbench", master=f"local[{host['cpus']}]",
        shuffle_partitions=host["cpus"], extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark: Any) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Bench:
    """One run: inputs, timed operations, tracing and the gate."""

    def __init__(self, spark: Any, workload: str, seed: int, trace: bool):
        from cassandra_data_migrator_spark.lake.fs import LocalFS

        from perfbench.trace import CountingFS, Tracer

        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.rng = random.Random(seed)
        self.tracer = Tracer(spark) if trace else None
        self.fs = CountingFS(LocalFS()) if trace else None
        self.attempted = 0
        self.failed = 0
        self.gate: list[dict] = []
        self.rounds = 0
        self.key_share = 0.0
        self.fs_counts: dict[str, dict] = {}
        self.reset()
        if self.tracer is not None:
            self.instrument()

    def instrument(self) -> None:
        """Spans around the public engine methods a timed operation
        calls internally: the pipeline's per-batch apply and the table
        merge (under run_batch, the stream's foreachBatch and the
        replica hop)."""
        from cassandra_data_migrator_spark.lake.table import LakeTable
        from cassandra_data_migrator_spark.streaming.pipeline import (
            CdcPipeline)

        def merged(span: Any, result: Any, args: tuple, kw: dict) -> None:
            span.attrs["events"] = (result.counters or {}).get("events", 0)

        self.tracer.instrument(CdcPipeline, "apply_batch",
                               "pipeline.apply_batch")
        self.tracer.instrument(LakeTable, "merge_batch", "table.merge_batch",
                               after=merged)

    def reset(self) -> None:
        """Drop everything measured so far (after the warm-up round)."""
        self.times: dict[str, list[float]] = {}
        self.values: dict[str, list[float]] = {}
        self.epochs: list[float] = []
        self.progress: list[dict] = []
        self.pipelines: list[Any] = []
        self.acc = {"files_listed": 0, "files_read": 0, "changes_rows": 0,
                    "diff_rows": 0, "delta_depth_max": 0,
                    "manifest_bytes": 0, "events": 0, "payload_bytes": 0,
                    "replicated_versions": 0}
        if self.tracer is not None:
            self.tracer.clear()
            self.fs.counts.clear()

    # -------------------------------------------------------- operations

    def op(self, metric: str, layer: str | None,
           fn: Callable[[], Any]) -> Any:
        """Run one timed operation under a root span and, when ``layer``
        is given, a child span named after the engine function called.
        An exception counts as a failed operation."""
        self.attempted += 1
        root = (self.tracer.begin(f"op.{metric}", op=True)
                if self.tracer else None)
        t0 = time.perf_counter()
        try:
            out = (self.tracer.call(layer, fn)
                   if self.tracer and layer else fn())
        except Exception:  # noqa: BLE001 - counted and reported
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            dt = time.perf_counter() - t0
            if root is not None:
                self.tracer.end(root)
        self.times.setdefault(metric, []).append(dt)
        return out

    def record(self, name: str, value: float) -> None:
        self.values.setdefault(name, []).append(value)

    # ------------------------------------------------------------ inputs

    def generate(self) -> dict[str, str]:
        from perfbench.inputs import generate

        paths = {"pages": os.path.join(WORK, "pages"),
                 "log": os.path.join(WORK, "log")}
        generate(self.seed, N_PAGES, LOG_EVENTS, SEGMENT_EVENTS,
                 paths["pages"], paths["log"])
        return paths

    def seed_template(self, paths: dict, mode: str) -> Any:
        """The seeded table every round clones, with ``text`` extracted
        from the html by the engine's UDF."""
        from pyspark.sql import functions as F

        from cassandra_data_migrator_spark.config import EngineConfig
        from cassandra_data_migrator_spark.functions.udfs import extract_text
        from cassandra_data_migrator_spark.lake import LakeTable

        pages = self.spark.read.parquet(paths["pages"]).select(
            "url", "warc_ts", "html", extract_text(F.col("html")).alias("text"),
            "lang")
        t = LakeTable.create(
            self.spark, os.path.join(WORK, "template"), pages.schema,
            EngineConfig(n_buckets=N_BUCKETS, merge_mode=mode), fs=self.fs)
        t.overwrite(pages)
        return t

    def truth(self, paths: dict) -> Any:
        """The expected state as the origin side of the validator."""
        from pyspark.sql import functions as F

        from perfbench.gate import expected_state

        out = os.path.join(WORK, "truth.parquet")
        expected_state(paths["pages"], paths["log"], out=out)
        return self.spark.read.parquet(out).select(
            "url", F.timestamp_micros("ts_us").alias("warc_ts"), "html",
            "lang")

    # ------------------------------------------------------------ probes

    @staticmethod
    def _force(df: Any) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _read(self, table: Any, **kw: Any) -> None:
        """A forced read, timed; when tracing, then (untimed) the files
        the manifest lists for its buckets and the files the scan reads
        after file skipping."""
        self.op(kw.pop("metric"), "table.read",
                lambda: self._force(table.read(**kw)))
        if self.tracer is not None:
            buckets = kw.get("buckets") or range(table.n_buckets)
            self.acc["files_listed"] += sum(
                len(table.manifest["files"].get(str(b), [])) for b in buckets)
            self.acc["files_read"] += len(table.read(**kw).inputFiles())

    def probes(self, table: Any, truth: Any) -> None:
        """The reads and validations every round runs: the workload's
        number of probe sets, each a mix of every probe, so that each
        metric's samples spread over the round; the end-to-end metric is
        the median."""
        table.refresh()
        if self.tracer is not None:
            self.acc["delta_depth_max"] = max(
                [self.acc["delta_depth_max"],
                 *table.delta_file_counts().values()])
            self.acc["manifest_bytes"] = max(
                self.acc["manifest_bytes"],
                os.path.getsize(table._manifest_path(table.version)))
        for _ in range(PROBE_SETS[self.workload]):
            self.probe_set(table, truth)

    def probe_set(self, table: Any, truth: Any) -> None:
        from cassandra_data_migrator_spark.operators.diff import (
            diff_counters, diff_tables)
        from perfbench.inputs import BASE_EPOCH

        for _ in range(SCANS):
            self.op("scan_s", "table.read",
                    lambda: table.checksums().collect())
        for _ in range(POINT_READS):
            self._read(table, metric="point_read_s",
                       buckets=[self.rng.randrange(N_BUCKETS)])
        for _ in range(WINDOW_READS):
            # event times span LOG_EVENTS * 10 s after the origin
            lo = BASE_EPOCH + self.rng.randrange(LOG_EVENTS * 10 - WINDOW_S)
            win = (datetime.fromtimestamp(lo, tz=timezone.utc),
                   datetime.fromtimestamp(lo + WINDOW_S, tz=timezone.utc))
            self._read(table, metric="window_read_s", ts_between=win)
        for _ in range(VALIDATIONS):
            c = self.op("validate_s", "diff.diff_tables",
                        lambda: diff_counters(diff_tables(
                            truth, table.read(), key_cols=("url",),
                            compare_cols=["warc_ts", "html", "lang"])))
            if c is not None:
                self.attempted += 1
                self.failed += bool(c["mismatch"] + c["missing"]
                                    + c["extra_target"])
                self.acc["diff_rows"] += c["read"] + c["extra_target"]

    def maintenance(self, template: Any, table: Any, v_a: int,
                    name: str) -> Any:
        """Traced runs only, after the probes: ``changes_between`` over
        the writer's commits, one replicate hop carrying them into a
        replica cloned from the template, and a compaction of every
        bucket. Returns the replica."""
        from cassandra_data_migrator_spark.streaming.changelog import (
            ChangelogConsumer, replicate)

        v_b = table.version
        self.op("changes_s", "table.changes_between",
                lambda: self._force(table.changes_between(v_a, v_b)))
        self.acc["changes_rows"] += table.changes_between(v_a, v_b).count()
        replica = template.clone_to(os.path.join(WORK, f"{name}-replica"),
                                    fs=self.fs)
        ckpt = os.path.join(WORK, f"{name}-changelog")
        ChangelogConsumer(table, ckpt).seek(v_a)
        hop = self.op("replicate_s", "changelog.replicate", lambda: replicate(
            self.spark, table, replica, ckpt, max_batches=1))
        self.acc["replicated_versions"] += sum(
            b["v_to"] - b["v_from"] for b in (hop or {}).get("batches", []))
        self.op("compact_s", "table.compact",
                lambda: table.compact(buckets=list(range(N_BUCKETS))))
        return replica

    # ------------------------------------------------------------ rounds

    def round(self, template: Any, paths: dict, ev: dict, truth: Any,
              name: str) -> tuple[Any, int]:
        """One round on a zero-copy clone of the template (the round's
        set-up): the writer applies the log — bulk_cow as one batch,
        trickle_mor as a stream drain of one segment per micro-batch —
        then the probes read and validate the result. Returns the table
        and its version before the writer."""
        from cassandra_data_migrator_spark.config import EngineConfig
        from cassandra_data_migrator_spark.sources import read_event_log
        from cassandra_data_migrator_spark.streaming.pipeline import (
            CdcPipeline)
        from perfbench.trace import fold_progress

        t0 = time.perf_counter()
        t = template.clone_to(os.path.join(WORK, name), fs=self.fs)
        self.record("round_setup_s", time.perf_counter() - t0)
        v_a = t.version
        p = CdcPipeline(self.spark, t, EngineConfig(n_buckets=N_BUCKETS))
        self.pipelines.append(p)
        if self.workload == "bulk_cow":
            self.op("writer_s", "pipeline.run_batch", lambda: p.run_batch(
                read_event_log(self.spark, paths["log"]), epoch_id=0))
            epochs = self.times["writer_s"][-1:]
        else:
            ckpt = os.path.join(WORK, f"{name}-stream")

            def drain() -> list[dict]:
                start = functools.partial(p.run_stream, paths["log"], ckpt,
                                          max_files_per_trigger=1)
                q = (self.tracer.call("pipeline.run_stream", start)
                     if self.tracer else start())
                q.awaitTermination()
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                return [pr if isinstance(pr, dict) else json.loads(pr.json)
                        for pr in q.recentProgress]
            prog = self.op("writer_s", None, drain) or []
            self.progress += prog
            epochs = fold_progress(prog)["epochs"]
        self.epochs += epochs
        self.record("write_amp", _dir_bytes(os.path.join(t.path, "data"))
                    / ev["payload_bytes"])
        self.acc["events"] += ev["events"]
        self.acc["payload_bytes"] += ev["payload_bytes"]
        self.probes(t, truth)
        return t, v_a

    # --------------------------------------------------------------- run

    def run(self, seconds: float) -> dict[str, float]:
        """Set up, warm up, run timed rounds and gate the last one.
        Returns the set-up phase times."""
        from perfbench.gate import check_state, event_stats

        t0 = time.perf_counter()
        paths = self.generate()
        setup = {"generate_s": time.perf_counter() - t0}
        t0 = time.perf_counter()
        template = self.seed_template(
            paths, "cow" if self.workload == "bulk_cow" else "mor")
        ev = event_stats(paths["pages"], paths["log"])
        self.key_share = ev["existing_key_share"]
        truth = self.truth(paths)
        setup["seed_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        for i in range(WARMUP_ROUNDS[self.workload]):
            warm, v_a = self.round(template, paths, ev, truth, f"warmup{i}")
        setup["warmup_s"] = time.perf_counter() - t0
        if self.tracer is not None:
            self.maintenance(template, warm, v_a, "warmup")
        setup_rounds = self.values["round_setup_s"]
        self.reset()

        while True:
            name = f"round{self.rounds}"
            t, v_a = self.round(template, paths, ev, truth, name)
            final = [t] if self.tracer is None else [
                t, self.maintenance(template, t, v_a, name)]
            self.rounds += 1
            if sum(sum(self.times[m]) for m in TIMED) >= seconds:
                break
        setup["round_setup_s"] = statistics.median(
            setup_rounds + self.values["round_setup_s"])
        if self.fs is not None:
            self.fs_counts = {k: dict(v) for k, v in self.fs.counts.items()}

        for t in final:
            t.refresh()
            g = check_state(t.read().select("url", "warc_ts", "html", "text",
                                            "lang").toArrow(),
                            paths["pages"], paths["log"])
            self.gate.append(g)
            self.attempted += 2
            self.failed += bool(g["mismatches"]) + bool(g["text_mismatches"])
        return setup

    def end_to_end(self, setup: dict) -> dict[str, float]:
        """Timings are means over the run. The host runs the same work up
        to 1.9x slower for seconds at a time: a median flips between its
        fast and slow phases, while a mean follows the share of time the
        run spent in each."""
        t = self.times

        def mean(xs: list[float]) -> float:
            return sum(xs) / len(xs)
        return {
            "setup_s": sum(setup.values()),
            "events_per_s": self.acc["events"] / sum(t["writer_s"]),
            "epoch_s": mean(self.epochs),
            "scan_s": mean(t["scan_s"]),
            "point_read_s": mean(t["point_read_s"]),
            "window_read_s": mean(t["window_read_s"]),
            "validate_s": mean(t["validate_s"]),
            "write_amp": statistics.median(self.values["write_amp"]),
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # the engine must come from this checkout; without it, fail here
    import cassandra_data_migrator_spark  # noqa: F401
    import pyspark

    from perfbench.layers import layer_metrics

    shutil.rmtree(STATE, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")

    host = host_info()
    spark, session_s = start_session(host, bool(args.trace))
    bench = None
    try:
        host["pyspark"] = pyspark.__version__
        host["java"] = spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version")
        bench = Bench(spark, args.workload, args.seed, bool(args.trace))
        setup = {"session_s": session_s, **bench.run(args.seconds)}
        e2e = bench.end_to_end(setup)
        host["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    finally:
        if bench is not None and bench.tracer is not None:
            bench.tracer.restore()
        stop_session(spark)

    if args.trace:
        logdir = os.path.join(WORK, "eventlog")
        metrics = layer_metrics(bench, setup, host["jvm_peak_rss_mb"],
                                logdir)
        units = metrics.pop("_units")
        os.makedirs(os.path.join(STATE, "out"), exist_ok=True)
        with open(os.path.join(STATE, "out",
                               f"spans-{args.workload}-{args.seed}.json"),
                  "w") as f:
            json.dump(bench.tracer.to_json(), f)
    else:
        metrics, units = e2e, E2E_UNITS
    print("host " + json.dumps(host))
    print("setup " + json.dumps(setup))
    print("gate " + json.dumps(bench.gate))
    print("e2e " + json.dumps(e2e))
    print("times " + json.dumps(bench.times))
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
