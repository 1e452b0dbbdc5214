"""Deterministic HTML -> text extraction.

``extract_text`` is a pure function of the html bytes: no library
versions, no locale, no randomness — so the per-row invariant required by
BASELINE.json (`input_hint`: "byte-identical extracted text per url")
holds across runs, executors, and cluster sizes.  The Spark surface is
the pipeline's one ``mapInPandas`` pass per page
(:func:`~mhdb_tables2turtles_spark.web.mentions.extract_pages`) and the
WARC reader, both of which call it per Arrow batch.

The reference engine has no HTML stage (it reads spreadsheets,
/root/reference/mhdb/spreadsheet_io.py:18-39); this is the north-rule
generalization of its "cell text -> normalized literal" front door
(/root/reference/mhdb/write_ttl.py:61-101) to web pages.
"""

from __future__ import annotations

import html as _html
import re

__all__ = ["extract_text", "extract_links"]

# Order matters and is part of the byte-identity contract — do not
# "improve" these patterns without versioning the extractor.
_SCRIPT = re.compile(rb"(?is)<(script|style)\b.*?</\1\s*>")
_COMMENT = re.compile(rb"(?s)<!--.*?-->")
_TAG = re.compile(rb"(?s)<[^>]*>")


def extract_text(html: bytes | None) -> str | None:
    """html bytes -> plain text.

    Spec (v1, frozen): drop <script>/<style> elements and comments,
    replace every remaining tag with a single space, decode UTF-8
    (replacement char on invalid bytes), unescape HTML entities, then
    collapse all whitespace runs to single spaces and strip.
    """
    if html is None:
        return None
    b = _SCRIPT.sub(b" ", html)
    b = _COMMENT.sub(b" ", b)
    b = _TAG.sub(b" ", b)
    s = _html.unescape(b.decode("utf-8", errors="replace"))
    return " ".join(s.split())


_HREF = re.compile(
    rb"(?is)<a\b[^>]*?\bhref\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]+))"
)


def extract_links(html: bytes | None) -> list[str] | None:
    """Ordered href values of every ``<a>`` tag (v1, frozen like
    :func:`extract_text`): raw attribute text, entity-unescaped,
    whitespace-stripped, empty hrefs dropped, relative links kept
    (resolution against the page url is the caller's step so this
    stays a pure function of the html bytes)."""
    if html is None:
        return None
    out = []
    for m in _HREF.finditer(html):
        raw = next(g for g in m.groups() if g is not None)
        href = _html.unescape(raw.decode("utf-8", errors="replace")).strip()
        if href:
            out.append(href)
    return out

