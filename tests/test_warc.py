"""WARC source connector: pure parser round-trips + the Spark reader."""

from __future__ import annotations

import gzip
import io
import os

from mhdb_tables2turtles_spark.sources.warc import parse_warc, read_warc_pages
from mhdb_tables2turtles_spark.web.extract import extract_text


def build_warc(pages: list[tuple[str, str, bytes]], gz: bool = False) -> bytes:
    """Inverse of :func:`parse_warc` for fixtures: (url, iso_date, html)
    triples → WARC bytes (one gzip member per record if ``gz``), wrapped
    in the HTTP response envelope Common Crawl stores."""
    out = io.BytesIO()
    for url, date, html in pages:
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
            f"WARC-Date: {date}\r\nContent-Length: {len(http)}\r\n\r\n"
        ).encode("ascii")
        record = head + http + b"\r\n\r\n"
        out.write(gzip.compress(record, mtime=0) if gz else record)
    return out.getvalue()


PAGES = [
    (
        "https://a.example/1",
        "2026-01-01T00:00:37Z",
        b"<html><body><p>hello &amp; chills</p></body></html>",
    ),
    (
        "https://b.example/2",
        "2026-01-01T00:01:14Z",
        b"<html><body><p>music study</p></body></html>",
    ),
]


def test_parse_warc_roundtrip_plain_and_gzip():
    for gz in (False, True):
        blob = build_warc(PAGES, gz=gz)
        recs = parse_warc(blob)
        assert [r["type"] for r in recs] == ["response", "response"]
        assert [(r["url"], r["html"]) for r in recs] == [
            (u, h) for u, _, h in PAGES
        ]
        assert recs[0]["date"] == "2026-01-01T00:00:37Z"


def test_parse_warc_stops_at_garbage_and_truncation():
    blob = build_warc(PAGES[:1]) + b"not a warc record"
    recs = parse_warc(blob)
    assert len(recs) == 1  # parsed the good record, stopped cleanly
    truncated = build_warc(PAGES[:1])[:-30]
    assert parse_warc(truncated) == []


def test_parse_warc_non_response_records_kept_raw():
    head = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 5\r\n\r\n"
        b"hello\r\n\r\n"
    )
    recs = parse_warc(head)
    assert recs == [
        {"type": "warcinfo", "url": None, "date": None, "body": b"hello"}
    ]


def test_read_warc_pages_spark(spark, tmp_path):
    d = str(tmp_path / "segments")
    os.makedirs(d)
    with open(os.path.join(d, "seg-00000.warc"), "wb") as f:
        f.write(build_warc(PAGES))
    with open(os.path.join(d, "seg-00001.warc.gz"), "wb") as f:
        f.write(build_warc([PAGES[0]], gz=True))

    df = read_warc_pages(spark, d)
    rows = {
        (r.url, bytes(r.html), r.text, str(r.warc_ts)): 1
        for r in df.collect()
    }
    # 3 response records across the two segments; extract kernel applied
    assert len(rows) == 2 and df.count() == 3
    urls = {r.url for r in df.collect()}
    assert urls == {"https://a.example/1", "https://b.example/2"}
    texts = {r.url: r.text for r in df.collect()}
    assert texts["https://a.example/1"] == "hello & chills"
    ts = {str(r.warc_ts) for r in df.collect()}
    assert "2026-01-01 00:00:37" in ts


def test_warc_pages_feed_the_pipeline(spark, tmp_path):
    """Connector output is pipeline-ready: the extract stage's
    byte-identity invariant holds from the WARC reader onward."""
    d = str(tmp_path / "seg2")
    os.makedirs(d)
    with open(os.path.join(d, "x.warc"), "wb") as f:
        f.write(build_warc(PAGES))
    rows = read_warc_pages(spark, d).select("html", "text").collect()
    assert len(rows) == len(PAGES)
    assert all(r.text == extract_text(bytes(r.html)) for r in rows)
