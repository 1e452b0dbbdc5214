"""Deterministic string/label/IRI kernel.

These pure-Python functions reproduce, bit-for-bit, the text semantics that
decide IRI identity in the reference engine (semantics studied from
``/root/reference/mhdb/write_ttl.py`` -- ``return_string`` :61-101,
``language_string`` :24-58, ``convert_string_to_label`` :140-216,
``check_iri`` :219-260; typed literals are formatted in Spark by
``plans.sheetspec._literal_expr``).  They are fresh
implementations verified against the reference's observed outputs
(``/root/reference/output/chills.ttl``).

They stay in Python on purpose: ``str.title()`` uppercases after *any*
non-alphabetic character and lowercases the rest, which no Spark SQL
builtin reproduces (``initcap`` splits on whitespace only).  The engine
applies them via Arrow-batched pandas UDFs (see ``functions/udfs.py``),
never row-at-a-time.
"""

from __future__ import annotations

import re

__all__ = [
    "normalize_text",
    "language_literal",
    "to_label",
    "format_iri",
    "LABEL_STYLES",
]

LABEL_STYLES = ("PascalCase", "camelCase", "delimited")

# Cell values treated as "no value" (reference: ingest.py:23-24 uses the
# sentinel 'EmptyValue' after fillna; we keep real nulls engine-side and
# exclude these string forms when they appear literally in data).
EXCLUDED_TOKENS = frozenset({"EmptyValue", "", "NaN", "NAN", "nan"})


def normalize_text(value, replacements: tuple = ()) -> str:
    """Normalize free text for literal emission.

    Semantics: stringify; newline -> space; ``"`` -> ``\\"``; strip; then
    apply positional ``(old, new)`` replacements in order.  Falsy input
    yields the empty string.
    """
    if not value:
        return ""
    s = value if isinstance(value, str) else str(value)
    s = s.replace("\n", " ").replace('"', '\\"').strip()
    for old, new in replacements:
        s = s.replace(old, new)
    return s


def language_literal(value, lang: str = "en") -> str:
    """Triple-quoted language-tagged Turtle literal.

    Note the two-step escape: ``"`` first becomes ``\\"`` inside
    :func:`normalize_text`, then the trailing ``"`` -> ``'`` replacement
    leaves a literal ``\\'`` sequence -- visible throughout the reference's
    emitted Turtle (e.g. ``\\'aesthetic\\'``), so it is load-bearing.
    """
    return '"""{}"""@{}'.format(normalize_text(value, (('"', "'"),)), lang)


_KEEP_CHARS = frozenset("-_")


def _pascal(s: str) -> str:
    return "".join(ch for ch in s.title() if not ch.isspace())


def _camel(s: str) -> str:
    parts = s.split(" ")
    return parts[0].lower() + "".join(
        p.title() for p in parts[1:] if not p.isspace()
    )


def _delimited(s: str) -> str:
    s = re.sub(r"_+", "_", s.replace(" ", "_"))
    s = s.replace("_-_", "-")
    return re.sub(r"-+", "-", s)


def to_label(value, style: str = "delimited") -> str:
    """Collapse a string to an IRI-safe label.

    ``PascalCase`` uses Python ``str.title()`` (uppercase after any
    non-alpha char, everything else lowered) then drops whitespace;
    ``camelCase`` lowers the first space-separated word and title-cases the
    rest; ``delimited`` turns spaces into ``_``, squeezes ``_``/``-`` runs
    and rewrites ``_-_`` to ``-``.  Finally only alphanumerics plus ``-_``
    survive.  Verified edge cases: ``"Go/no-go task"`` -> Pascal
    ``GoNo-GoTask``; ``"stimulus onset asynchrony (SOA)"`` ->
    ``StimulusOnsetAsynchronySoa``.
    """
    if not value:
        raise ValueError("to_label() requires a non-empty string")
    s = value if isinstance(value, str) else str(value)
    if style == "PascalCase":
        s = _pascal(s)
    elif style == "camelCase":
        s = _camel(s)
    elif style == "delimited":
        s = _delimited(s)
    else:
        raise ValueError(f"unknown label style: {style!r}")
    return "".join(c for c in s if c.isalnum() or c in _KEEP_CHARS).rstrip()


def format_iri(value, style: str = "delimited") -> str:
    """Format a cell value as a Turtle IRI token.

    Rules (all verified against the reference's emitted output):

    * contains ``:`` and no whitespace:
        * trailing ``:`` is dropped (recursively), then re-evaluated;
        * contains ``:/`` and not already ``<``/``>``-wrapped -> the whole
          string is label-collapsed and wrapped: ``<httpexampleorgx>``;
        * otherwise passes through verbatim (``fabio:hasPublicationYear``,
          ``:AlreadyMinted``);
    * anything else (including URLs with embedded spaces) ->
      ``:`` + :func:`to_label`.

    Idempotent on its own ``prefix:name`` / ``:Label`` outputs -- the
    reverse-fixture golden test relies on that.
    """
    s = str(value).strip()
    if ":" in s and not any(ch.isspace() for ch in s):
        if s.endswith(":"):
            return format_iri(s[:-1], style)
        if ":/" in s and not s.startswith("<") and not s.endswith(">"):
            return "<{}>".format(to_label(s, style))
        return s
    return ":" + to_label(s, style)

