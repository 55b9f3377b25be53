"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import zlib
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gate, layers, trace  # noqa: E402
from perfbench.run import E2E_UNITS  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# --------------------------------------------------------- percentiles

@pytest.mark.parametrize("n,pct,rank", [
    (5, 0, None), (10, 0, None), (11, 9, 1), (20, 50, 10), (40, 75, 30),
    (100, 90, 90), (1000, 99, 990),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct, rank):
    values = [float(i) for i in range(n, 0, -1)]  # unsorted input
    got_pct, got, got_n = trace.tail_percentile(values)
    assert (got_pct, got_n) == (pct, n)
    if rank is None:
        assert got is None
    else:
        assert got == float(rank)
        assert sum(v > got for v in values) >= 10


def test_union_length_merges_overlaps():
    assert trace.union_length([]) == 0
    assert trace.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert trace.union_length([(1, 4), (2, 3)]) == 3


# ----------------------------------------------------------- counting FS

def _exercise(fs, root: str) -> list:
    fs.makedirs(root)
    fs.create_exclusive(os.path.join(root, "v1.json"), '{"v": 1}')
    fs.replace(os.path.join(root, "LATEST"), "1")
    fs.write_bytes(os.path.join(root, "side", "part.bin"), b"\x00abc")
    out = [fs.read_text(os.path.join(root, "LATEST")), fs.listdir(root),
           fs.exists(os.path.join(root, "v1.json"))]
    with pytest.raises(FileExistsError):
        fs.create_exclusive(os.path.join(root, "v1.json"), "{}")
    fs.delete(os.path.join(root, "v1.json"))
    out.append(fs.exists(os.path.join(root, "v1.json")))
    return out


def test_counting_fs_results_and_counts(tmp_path):
    from cassandra_data_migrator_spark.lake.fs import LocalFS

    counting = trace.CountingFS(LocalFS())
    plain = _exercise(LocalFS(), str(tmp_path / "plain"))
    counted = _exercise(counting, str(tmp_path / "counted"))
    assert plain == counted == ["1", ["LATEST", "side", "v1.json"], True,
                                False]
    for sub in ("", "side"):
        assert (sorted(os.listdir(tmp_path / "plain" / sub))
                == sorted(os.listdir(tmp_path / "counted" / sub)))
    c = counting.counts
    # the failed second create raised before it was counted
    assert {k: v["calls"] for k, v in c.items()} == {
        "makedirs": 1, "create_exclusive": 1, "replace": 1,
        "write_bytes": 1, "read_text": 1, "listdir": 1, "exists": 2,
        "delete": 1}
    assert c["create_exclusive"]["bytes"] == len('{"v": 1}')
    assert c["replace"]["bytes"] == 1
    assert c["write_bytes"]["bytes"] == 4
    assert c["read_text"]["bytes"] == 1
    assert c["listdir"]["bytes"] == len("LATEST" "side" "v1.json")
    assert c["delete"]["bytes"] == 0
    assert all(v["busy_s"] >= 0 for v in c.values())


# ------------------------------------------------------- event log, spans

def test_fold_recorded_event_log():
    """The fixture is a Spark 4.1 event log of a two-partition pandas-UDF
    query over 100 rows, run under job tag ``span-3`` (a count of
    distinct values: a shuffle), then one job without a span tag."""
    with open(os.path.join(DATA, "eventlog.jsonl")) as f:
        jobs = trace.fold_event_log(f)
    tagged = [j for j in jobs.values() if "span-3" in j["tags"]]
    # Spark tags every job with its session; only span tags attribute
    untagged = [j for j in jobs.values()
                if not any(t.startswith("span-") for t in j["tags"])]
    assert tagged and len(untagged) == 1
    assert all(j["end"] >= j["submit"] and not j["failed"]
               for j in jobs.values())
    assert sum(j["tasks"] for j in jobs.values()) == sum(
        j["tasks"] for j in tagged) + untagged[0]["tasks"]
    assert sum(j["failed_tasks"] for j in jobs.values()) == 0
    assert sum(j["python_rows"] for j in tagged) == 100
    assert sum(j["python_bytes_sent"] for j in tagged) > 0
    assert sum(j["python_bytes_received"] for j in tagged) > 0
    assert sum(j["shuffle_write_bytes"] for j in tagged) > 0
    assert untagged[0]["python_rows"] == 0


def test_spans_self_time_and_job_attribution():
    clock = iter([0.0, 1.0, 3.0, 4.0, 6.0, 7.0, 9.0, 10.0]).__next__
    tr = trace.Tracer(clock=clock)
    op = tr.begin("op.writer", op=True)           # 0
    child = tr.begin("pipeline.apply_batch")      # 1
    tr.end(child)                                 # 3
    grandchild_parent = tr.begin("table.merge_batch")  # 4
    tr.end(grandchild_parent)                     # 6
    tr.end(op)                                    # 7
    other = tr.begin("op.scan", op=True)          # 9
    tr.end(other)                                 # 10
    kids = tr.children()
    assert tr.self_time(op, kids) == pytest.approx(7 - 2 - 2)
    assert child.parent == op.sid and child.op == op.sid
    jobs = {
        0: {"tags": [f"span-{op.sid}", f"span-{child.sid}"], "submit": 2.0},
        1: {"tags": [], "submit": 5.0},     # inside merge_batch by time
        2: {"tags": [], "submit": 8.0},     # between operations
    }
    assert trace.attribute_jobs(tr, jobs) == {
        0: child.sid, 1: grandchild_parent.sid, 2: None}


def test_fold_progress():
    prog = [
        {"numInputRows": 500, "durationMs": {
            "latestOffset": 10, "queryPlanning": 20, "getBatch": 1,
            "walCommit": 30, "addBatch": 900, "commitOffsets": 40,
            "triggerExecution": 1000}},
        {"numInputRows": 0, "durationMs": {"latestOffset": 5,
                                           "triggerExecution": 6}},
    ]
    got = trace.fold_progress(prog)
    assert got["epochs"] == [1.0]
    assert got["phases"]["latestOffset"] == pytest.approx(0.015)
    assert got["phases"]["walCommit"] == pytest.approx(0.03)


# ---------------------------------------------------------------- gate

def _ts(s: int) -> datetime:
    return datetime.fromtimestamp(1_700_000_000 + s, tz=timezone.utc) \
        .replace(tzinfo=None)


def _html(i: int) -> bytes:
    return (f"<html><head><script>var x={i};</script><style>p{{}}</style>"
            f"</head><body><p>page {i} rev</p> tail</body></html>").encode()


@pytest.fixture()
def inputs(tmp_path):
    """Seed pages u0..u5 and a log that exercises every LWW rule."""
    pages, log = tmp_path / "pages", tmp_path / "log"
    pages.mkdir()
    log.mkdir()
    pq.write_table(pa.table({
        "url": [f"u{i}" for i in range(6)],
        "warc_ts": [_ts(100)] * 6,
        "html": [_html(i) for i in range(6)],
        "text": [None] * 6,
        "lang": ["en", "", "de", "fr", "es", "zh"],
    }), pages / "part-0.parquet")
    pq.write_table(pa.table({
        "seq": pa.array([1, 2, 3, 4, 5, 6, 7, 7], pa.int64()),
        "op": ["delete", "update", "update", "insert", "update", "update",
               "insert", "insert"],
        "url": ["u0", "u1", "u2", "u9", "u3", "u3", "u4", "u4"],
        # u0 deleted; u1 late update loses; u2 newer update wins; u9 new
        # key; u3 tie on ts broken by seq; u4 exact duplicate event
        "warc_ts": [_ts(200), _ts(50), _ts(300), _ts(10), _ts(400),
                    _ts(400), _ts(500), _ts(500)],
        "html": [None, _html(11), _html(12), _html(19), _html(13),
                 _html(23), _html(14), _html(14)],
        "lang": [None, "de", "", "en", "en", "fr", "es", "es"],
    }), log / "part-0.parquet")
    return str(pages), str(log)


def _engine_like_state(pages: str, log: str, out: str) -> pa.Table:
    gate.expected_state(pages, log, out=out)
    t = pq.read_table(out)
    ts = pa.array([v * 1000 for v in t.column("ts_us").to_pylist()],
                  pa.timestamp("ns")).cast(pa.timestamp("us", tz="UTC"))
    return pa.table({
        "url": t.column("url"), "warc_ts": ts, "html": t.column("html"),
        "text": [gate.extract_text(d) for d in t.column("html").to_pylist()],
        "lang": t.column("lang"),
    })


def test_reference_applies_lww(inputs, tmp_path):
    state = _engine_like_state(*inputs, str(tmp_path / "e.parquet"))
    rows = {r["url"]: r for r in state.to_pylist()}
    assert sorted(rows) == ["u1", "u2", "u3", "u4", "u5", "u9"]
    assert rows["u1"]["html"] == _html(1) and rows["u1"]["lang"] is None
    assert rows["u2"]["html"] == _html(12) and rows["u2"]["lang"] is None
    assert rows["u3"]["html"] == _html(23) and rows["u3"]["lang"] == "fr"
    assert rows["u4"]["html"] == _html(14)
    assert rows["u9"]["html"] == _html(19)


def test_gate_passes_and_fails_on_a_removed_row(inputs, tmp_path):
    state = _engine_like_state(*inputs, str(tmp_path / "e.parquet"))
    ok = gate.check_state(state, *inputs, text_sample=1)
    assert ok["mismatches"] == 0 and ok["text_mismatches"] == 0
    assert ok["rows_expected"] == ok["rows_actual"] == 6
    assert ok["text_checked"] == 6
    short = gate.check_state(state.slice(1), *inputs, text_sample=1)
    assert short["mismatches"] == 1


def test_gate_counts_a_wrong_value_and_a_wrong_text(inputs, tmp_path):
    state = _engine_like_state(*inputs, str(tmp_path / "e.parquet"))
    langs = state.column("lang").to_pylist()
    langs[2] = "xx"
    texts = state.column("text").to_pylist()
    texts[3] = texts[3] + " extra"
    bad = state.set_column(4, "lang", pa.array(langs)) \
               .set_column(3, "text", pa.array(texts))
    got = gate.check_state(bad, *inputs, text_sample=1)
    assert got["mismatches"] == 1 and got["text_mismatches"] == 1
    # a live row that lost its html (and so its text) is a mismatch too
    docs = state.column("html").to_pylist()
    docs[1] = None
    texts = state.column("text").to_pylist()
    texts[1] = None
    lost = state.set_column(2, "html", pa.array(docs, pa.binary())) \
                .set_column(3, "text", pa.array(texts, pa.string()))
    got = gate.check_state(lost, *inputs, text_sample=1)
    assert got["mismatches"] == 1 and got["text_mismatches"] == 0
    # the text sample is deterministic: crc32(url) % n == 0
    got = gate.check_state(bad, *inputs, text_sample=2)
    urls = state.column("url").to_pylist()
    assert got["text_checked"] == sum(
        zlib.crc32(u.encode()) % 2 == 0 for u in urls)


def test_event_stats(inputs):
    got = gate.event_stats(*inputs)
    assert got["events"] == 8
    assert got["existing_key_share"] == pytest.approx(7 / 8)


def test_independent_extraction_agrees_with_the_engine():
    from cassandra_data_migrator_spark.functions.udfs import (
        _extract_text_bytes)

    docs = [_html(i) for i in range(3)] + [
        b"<p>a&amp;b</p><br/>c<!-- note -->d",
        b"<SCRIPT>x</SCRIPT>  keep \n  this <b>bold</b>",
        b"", None]
    for d in docs:
        assert gate.extract_text(d) == _extract_text_bytes(d)


# ----------------------------------------------------- BENCHMARK.json

def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(
        layers.UNITS.items())
    with open(os.path.join(ROOT, "perfbench", "workloads.json")) as f:
        meta = json.load(f)
    assert [w["name"] for w in meta["workloads"]] == [
        w["name"] for w in spec["workloads"]]
    assert set(meta["layer_predictions"]) == set(layers.UNITS)


# -------------------------------------------------------------- inputs

def test_inputs_are_seeded_and_hit_seeded_keys(tmp_path):
    from perfbench import inputs

    def gen(name: str, seed: int) -> tuple[pa.Table, pa.Table, list]:
        segs = inputs.generate(seed, 300, 1000, 250, str(tmp_path / name / "p"),
                               str(tmp_path / name / "l"))
        return (pq.read_table(tmp_path / name / "p"),
                pa.concat_tables(pq.read_table(s) for s in segs), segs)

    pages, events, segs = gen("a", 7)
    pages2, events2, _ = gen("b", 7)
    _, events3, _ = gen("c", 8)
    assert pages.equals(pages2) and events.equals(events2)
    assert not events.equals(events3)
    assert len(segs) == 4
    mtimes = [os.path.getmtime(s) for s in segs]
    assert mtimes == sorted(mtimes)
    assert set(events.column("url").to_pylist()) <= set(
        pages.column("url").to_pylist())
    rows = events.to_pylist()
    seqs = [r["seq"] for r in rows]
    assert seqs == sorted(seqs)
    for prev, cur in zip(rows, rows[1:]):  # a duplicate repeats its event
        if cur["seq"] == prev["seq"]:
            assert cur == prev
    ops = [r["op"] for r in rows]
    assert 0 < ops.count("delete") < 0.1 * len(ops)
    assert all((r["html"] is None) == (r["op"] == "delete") for r in rows)
