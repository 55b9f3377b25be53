"""Correctness gate that uses no engine code.

The expected final state of a workload is computed with DuckDB from the
same generated inputs the engine received: last-writer-wins over the
seed pages ∪ the change-event log, ordered by ``warc_ts desc, seq
desc`` (seed rows carry no seq and lose ties), with a winning delete
acting as a tombstone. The engine's final state is compared key for key
on ``(url, warc_ts, lang, html)``, and ``text`` is checked against an
independent extraction of the stored html on a deterministic sample.
"""

from __future__ import annotations

import html.parser
import zlib
from typing import Any

import duckdb


class _TextExtractor(html.parser.HTMLParser):
    """Tag-stripping text extraction written against the stdlib HTML
    tokenizer: every tag is a word break, ``<script>``/``<style>``
    content is dropped, whitespace runs collapse to one space and
    character references are kept as written."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=False)
        self.parts: list[str] = []
        self._skip = 0

    def handle_starttag(self, tag: str, attrs: Any) -> None:
        self.parts.append(" ")
        if tag in ("script", "style"):
            self._skip += 1

    def handle_endtag(self, tag: str) -> None:
        self.parts.append(" ")
        if tag in ("script", "style") and self._skip:
            self._skip -= 1

    def handle_startendtag(self, tag: str, attrs: Any) -> None:
        self.parts.append(" ")

    def handle_data(self, data: str) -> None:
        if not self._skip:
            self.parts.append(data)

    def handle_entityref(self, name: str) -> None:
        self.handle_data(f"&{name};")

    def handle_charref(self, name: str) -> None:
        self.handle_data(f"&#{name};")

    def handle_comment(self, data: str) -> None:
        self.parts.append(" ")

    def handle_decl(self, decl: str) -> None:
        self.parts.append(" ")


def extract_text(doc: bytes | None) -> str | None:
    if doc is None:
        return None
    p = _TextExtractor()
    p.feed(doc.decode("utf-8", errors="replace"))
    p.close()
    return " ".join("".join(p.parts).split())


def _relation(con: duckdb.DuckDBPyConnection, pages: str, log: str) -> str:
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW expected AS
        WITH rows AS (
            SELECT url, epoch_us(warc_ts) ts, html, nullif(lang, '') lang,
                   NULL::BIGINT seq, 'insert' op
            FROM read_parquet('{pages}/*.parquet')
            UNION ALL
            SELECT url, epoch_us(warc_ts), html, nullif(lang, ''), seq, op
            FROM read_parquet('{log}/*.parquet')
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY url ORDER BY ts DESC, seq DESC NULLS LAST) rn
            FROM rows
        )
        SELECT url, ts, html, lang FROM ranked
        WHERE rn = 1 AND op <> 'delete'
    """)
    return "expected"


def expected_state(pages: str, log: str, out: str | None = None) -> int:
    """Row count of the expected live state. With ``out``, also write it
    as parquet ``(url, ts_us, html, lang)`` for the engine-side validator
    (``diff_tables``) to read."""
    con = duckdb.connect()
    try:
        rel = _relation(con, pages, log)
        if out is not None:
            con.execute(f"COPY (SELECT url, ts AS ts_us, html, lang FROM {rel})"
                        f" TO '{out}' (FORMAT parquet)")
        return con.execute(f"SELECT count(*) FROM {rel}").fetchone()[0]
    finally:
        con.close()


def check_state(actual: Any, pages: str, log: str,
                text_sample: int = 16) -> dict[str, int]:
    """Compare ``actual`` (an Arrow table with ``url, warc_ts, html,
    text, lang``) with the expected state. Every missing, extra or
    differing key is one mismatch; so is every sampled row (crc32 of
    the url divisible by ``text_sample``) whose text differs from the
    independent extraction of its html."""
    con = duckdb.connect()
    try:
        rel = _relation(con, pages, log)
        con.register("actual_arrow", actual)
        con.execute("""CREATE TEMP VIEW actual AS SELECT url,
                       epoch_us(warc_ts) ts, html, lang FROM actual_arrow""")
        mismatches = con.execute(f"""
            SELECT count(*) FROM {rel} e FULL OUTER JOIN actual a USING (url)
            WHERE e.url IS NULL OR a.url IS NULL
               OR e.ts IS DISTINCT FROM a.ts
               OR e.lang IS DISTINCT FROM a.lang
               OR e.html IS DISTINCT FROM a.html
        """).fetchone()[0]
        n_expected, digest = con.execute(
            f"SELECT count(*), bit_xor(hash(url, ts, html, lang)) FROM {rel}"
        ).fetchone()
    finally:
        con.close()
    urls = actual.column("url").to_pylist()
    docs = actual.column("html").to_pylist()
    texts = actual.column("text").to_pylist()
    checked = text_bad = 0
    for u, d, t in zip(urls, docs, texts):
        if zlib.crc32(u.encode()) % text_sample:
            continue
        checked += 1
        text_bad += extract_text(d) != t
    return {"reference_digest": f"{digest:016x}",
            "rows_expected": n_expected, "rows_actual": actual.num_rows,
            "mismatches": mismatches, "text_checked": checked,
            "text_mismatches": text_bad}


def event_stats(pages: str, log: str) -> dict[str, float]:
    """Input properties of the event log: count, payload bytes (url +
    html + lang) and the share whose url is a seeded key."""
    con = duckdb.connect()
    try:
        n, payload, hits = con.execute(f"""
            WITH ev AS (SELECT * FROM read_parquet('{log}/*.parquet')),
                 keys AS (SELECT DISTINCT url FROM
                          read_parquet('{pages}/*.parquet'))
            SELECT count(*),
                   sum(strlen(ev.url) + coalesce(octet_length(html), 0)
                       + coalesce(strlen(lang), 0)),
                   count(keys.url)
            FROM ev LEFT JOIN keys USING (url)
        """).fetchone()
    finally:
        con.close()
    return {"events": int(n), "payload_bytes": int(payload or 0),
            "existing_key_share": (hits / n) if n else 0.0}
