"""WARC source connector: Common Crawl's on-disk format → pages rows.

The reference's only source is a Google-Sheets download
(/root/reference/mhdb/spreadsheet_io.py:18-39); the north-rule corpus
is "Common-Crawl-style web pages", whose native interchange format is
WARC (ISO 28500): length-delimited records of WARC headers + an HTTP
response block.  This module is a pure-stdlib reader for the subset
Common Crawl publishes (warc/1.0–1.1, `WARC-Type: response`, optional
per-record gzip members):

* :func:`parse_warc` — bytes → list of record dicts.  Pure function,
  no I/O, no external deps; deterministic on malformed trailing bytes
  (stops at the first unparseable boundary and reports how many bytes
  it consumed).
* :func:`read_warc_pages` — the Spark surface: ``binaryFile`` scan of
  ``*.warc`` / ``*.warc.gz`` → ``mapInPandas`` over whole files →
  the standard pages schema ``(url, warc_ts, html, text, lang)``.

Scale shape: WARC files are the unit of parallelism on a real crawl
(Common Crawl ships ~1 GB segments, ~10^5 files per monthly crawl), so
a binaryFile scan keyed by file is already embarrassingly parallel;
each record parses row-locally inside an Arrow batch.  ``text`` is
:func:`~mhdb_tables2turtles_spark.web.extract.extract_text` applied at
read time — the same frozen kernel the pipeline's stage 1 re-verifies,
so the per-row byte-identity invariant holds from the connector
onward.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession

__all__ = ["parse_warc", "read_warc_pages"]

_CRLF = b"\r\n"


def _split_gzip_members(blob: bytes) -> list[bytes]:
    """Decompress a multi-member gzip stream (per-record members, the
    Common Crawl layout) into the decompressed bytes of each member."""
    out = []
    pos = 0
    while pos < len(blob):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out.append(d.decompress(blob[pos:]))
        consumed = len(blob) - pos - len(d.unused_data)
        if consumed <= 0:  # defensive: no forward progress
            break
        pos += consumed
    return out


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(_CRLF):
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.decode("ascii", "replace").strip().lower()] = v.decode(
                "utf-8", "replace"
            ).strip()
    return headers


def _parse_one(buf: bytes, pos: int):
    """Parse one WARC record at ``pos``; -> (record | None, next_pos)."""
    # skip inter-record blank lines
    while buf.startswith(_CRLF, pos):
        pos += 2
    if pos >= len(buf):
        return None, pos
    if not buf.startswith(b"WARC/", pos):
        return None, pos  # unparseable boundary: stop deterministically
    head_end = buf.find(_CRLF + _CRLF, pos)
    if head_end < 0:
        return None, pos
    headers = _parse_headers(buf[pos:head_end])
    try:
        length = int(headers.get("content-length", ""))
    except ValueError:
        return None, pos
    body_start = head_end + 4
    body = buf[body_start : body_start + length]
    if len(body) < length:
        return None, pos  # truncated record
    record = {
        "type": headers.get("warc-type", ""),
        "url": headers.get("warc-target-uri"),
        "date": headers.get("warc-date"),
        "body": body,
    }
    return record, body_start + length


def _http_payload(body: bytes) -> bytes:
    """Strip the HTTP response envelope of a `response` record (status
    line + headers); the remainder is the page bytes."""
    sep = body.find(_CRLF + _CRLF)
    if body.startswith(b"HTTP/") and sep >= 0:
        return body[sep + 4 :]
    return body


def parse_warc(blob: bytes) -> list[dict]:
    """WARC bytes (plain or multi-member gzip) → records.  Each dict:
    ``type``, ``url``, ``date`` (ISO-8601 string per the spec), and
    ``html`` (the HTTP payload) for response records / ``body`` raw
    bytes otherwise."""
    if blob[:2] == b"\x1f\x8b":
        chunks = _split_gzip_members(blob)
    else:
        chunks = [blob]
    records = []
    for chunk in chunks:
        pos = 0
        while True:
            rec, pos = _parse_one(chunk, pos)
            if rec is None:
                break
            if rec["type"] == "response":
                rec["html"] = _http_payload(rec.pop("body"))
            records.append(rec)
    return records


def read_warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """``binaryFile`` scan of WARC segments → the standard pages table
    ``(url, warc_ts, html, text, lang)``.  One Arrow batch per file;
    lang is left null (language ID is a downstream operator,
    ops/text.py) and ``text`` is the frozen extract kernel applied at
    read time."""
    import pandas as pd

    from mhdb_tables2turtles_spark.web.extract import extract_text
    from mhdb_tables2turtles_spark.web.pages import PAGES_SCHEMA

    files = spark.read.format("binaryFile").load(path)

    def gen(batches):
        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for rec in parse_warc(bytes(blob)):
                    if rec["type"] != "response" or not rec["url"]:
                        continue
                    html = rec["html"]
                    rows.append(
                        {
                            "url": rec["url"],
                            "warc_ts": pd.Timestamp(rec["date"]).tz_localize(
                                None
                            )
                            if rec["date"]
                            else None,
                            "html": html,
                            "text": extract_text(html),
                            "lang": None,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["url", "warc_ts", "html", "text", "lang"],
            )

    return files.select("content").mapInPandas(gen, schema=PAGES_SCHEMA)
