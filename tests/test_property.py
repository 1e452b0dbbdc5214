"""Property-based fuzzing (hypothesis) of the pure RDF term kernels —
the string paths where a single mis-escaped character silently corrupts
a triple at any scale: the reference-faithful literal kernel
(functions/strings.py) and the W3C Turtle parser's collect mode
(operators/validate.py::parse_turtle).

All pure Python — no SparkSession — so hundreds of examples run in
seconds.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mhdb_tables2turtles_spark.functions.strings import language_literal
from mhdb_tables2turtles_spark.operators.validate import parse_turtle

# printable unicode minus surrogates/control; backslash excluded — the
# reference's literal kernel passes backslashes through raw
# (reference-faithful), which the strict Turtle validator then rejects
# loudly at write time (see test_backslash_fails_loudly).
_TEXT = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs", "Cc"), blacklist_characters="\\"
    ),
    min_size=0,
    max_size=60,
)


@settings(max_examples=200, deadline=None)
@given(_TEXT)
def test_turtle_parse_preserves_literal_surface(text):
    """The W3C-grammar collector returns the reference kernel's
    long-literal SURFACE verbatim — the convention the triple tables,
    golden oracles, and the Turtle source all share."""
    stored = language_literal(text)
    doc = f"@prefix ex: <http://e.org/> .\nex:s ex:p {stored} .\n"
    triples = parse_turtle(doc)
    assert triples == [("ex:s", "ex:p", stored)]


def test_backslash_fails_loudly():
    """A raw backslash survives the reference literal kernel (it only
    escapes quotes/newlines — reference fidelity), producing Turtle the
    strict validator REJECTS rather than silently corrupts."""
    from mhdb_tables2turtles_spark.operators.validate import (
        TurtleSyntaxError,
    )

    stored = language_literal("a \\ b")
    doc = f"@prefix ex: <http://e.org/> .\nex:s ex:p {stored} .\n"
    with pytest.raises(TurtleSyntaxError):
        parse_turtle(doc)
