"""Seeded Common-Crawl-style inputs, generated in the benchmark process.

The recipe follows the engine's synthetic fixtures (FIXTURES.md F1/F2):

- pages ``(url, warc_ts, html, lang)``: about 20% of urls on 3 hot
  domains, the rest over 200; 0.2-18 KB of html with a script and a
  style block, 1% of pages about 45 KB; lang one of five tags or empty
  (a page stores an empty tag as null, as the pipeline's
  normalization does);
- change events ``(seq, op, url, warc_ts, html, lang)``: about 5%
  deletes, 35% inserts and 60% updates; 10% late events whose event
  time lies 500,000 s behind their position; 2% exact duplicates that
  repeat the previous event, seq included.

Pages and events come from one seed, and every event key is a seeded
page. Pages are dated in the year before the events' time origin, so
most events win last-writer-wins. Events are written as log segments,
one parquet file each, in seq order with increasing modification
times, as ``sources.event_log.write_event_log`` writes them.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_EPOCH = 1_700_000_000   # the events' time origin, seconds
YEAR_S = 365 * 86_400
PHRASES = (
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    "how vexingly quick daft zebras jump",
    "sphinx of black quartz judge my vow",
    "the five boxing wizards jump quickly",
)
LANGS = ("en", "de", "fr", "es", "zh", "")

_TS = pa.timestamp("us", tz="UTC")


def _urls(rng: np.random.Generator, n: int) -> list[str]:
    hot = rng.random(n) < 0.2
    domain = np.where(hot, rng.integers(0, 3, n), 3 + rng.integers(0, 200, n))
    return [f"https://d{d}.example.com/page/{i}" for i, d in enumerate(domain)]


def _html(rng: np.random.Generator, ids: np.ndarray) -> list[bytes]:
    phrase = rng.integers(0, len(PHRASES), len(ids))
    reps = np.where(rng.random(len(ids)) < 0.01, 1000,
                    rng.integers(4, 404, len(ids)))
    tag = rng.integers(0, 2**62, len(ids))
    return [
        (f"<html><head><title>page {i}</title><script>var t=1;</script>"
         f"<style>p{{color:red}}</style></head><body><p>"
         + f"{PHRASES[p]} rev" * r + f" {t}</p></body></html>").encode()
        for i, p, r, t in zip(ids, phrase, reps, tag)
    ]


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array(seconds.astype("int64") * 1_000_000, pa.int64()).cast(_TS)


def generate(seed: int, n_pages: int, n_events: int, segment: int,
             pages_dir: str, log_dir: str) -> list[str]:
    """Write the pages and the event log; returns the log segments in
    seq order."""
    rng = np.random.default_rng(seed)
    urls = _urls(rng, n_pages)
    os.makedirs(pages_dir)
    pq.write_table(pa.table({
        "url": urls,
        "warc_ts": _ts(BASE_EPOCH - YEAR_S - 86_400
                       + rng.integers(0, YEAR_S, n_pages)),
        "html": pa.array(_html(rng, np.arange(n_pages)), pa.binary()),
        "lang": [LANGS[k] or None
                 for k in rng.integers(0, len(LANGS), n_pages)],
    }), os.path.join(pages_dir, "part-00000.parquet"))

    raw = np.arange(n_events)
    dup = (rng.random(n_events) < 0.02) & (raw > 0)
    eid = np.where(dup, raw - 1, raw)
    # every per-event draw is indexed by eid, so a duplicate repeats
    # its predecessor exactly
    opk = rng.integers(0, 100, n_events)[eid]
    op = np.where(opk < 5, "delete", np.where(opk < 40, "insert", "update"))
    late = (rng.random(n_events) < 0.1)[eid]
    ts = np.where(late, eid * 10 - 500_000,
                  eid * 10 + rng.integers(0, 5, n_events)[eid])
    page = rng.integers(0, n_pages, n_events)[eid]
    html = _html(rng, raw)
    lang = rng.integers(0, len(LANGS), n_events)
    alive = op != "delete"
    events = pa.table({
        "seq": pa.array(eid, pa.int64()),
        "op": op.tolist(),
        "url": [urls[p] for p in page],
        "warc_ts": _ts(BASE_EPOCH + ts),
        "html": pa.array([html[e] if a else None
                          for e, a in zip(eid, alive)], pa.binary()),
        "lang": [LANGS[lang[e]] if a else None for e, a in zip(eid, alive)],
    })
    os.makedirs(log_dir)
    segments = []
    now = time.time()
    for k, start in enumerate(range(0, n_events, segment)):
        path = os.path.join(log_dir, f"part-{k:05d}.parquet")
        pq.write_table(events.slice(start, segment), path)
        mtime = now - n_events // segment + k
        os.utime(path, (mtime, mtime))
        segments.append(path)
    return segments
