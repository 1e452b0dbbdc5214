"""String kernel unit tests.

Expected values are the reference's *observed* outputs (probed by
executing /root/reference/mhdb/write_ttl.py functions during the survey,
plus literal forms visible in /root/reference/output/chills.ttl).
"""

import pytest
from conftest import REFERENCE_MODULE, requires

from mhdb_tables2turtles_spark.functions.strings import (
    format_iri,
    language_literal,
    normalize_text,
    to_label,
)


class TestNormalizeText:
    def test_basic_strip(self):
        assert normalize_text("  hi there \n") == "hi there"

    def test_newline_to_space(self):
        assert normalize_text("a\nb") == "a b"

    def test_quote_escape(self):
        assert normalize_text('say "hi"') == 'say \\"hi\\"'

    def test_replacements_after_escape(self):
        # the language_literal two-step: " -> \" -> \' sequence survives
        assert normalize_text('say "hi"', (('"', "'"),)) == "say \\'hi\\'"

    def test_falsy(self):
        assert normalize_text(None) == ""
        assert normalize_text("") == ""

    def test_non_string(self):
        assert normalize_text(42) == "42"


class TestLanguageLiteral:
    def test_plain(self):
        assert language_literal("Canada goose") == '"""Canada goose"""@en'

    def test_lang_tag(self):
        assert language_literal("oie", "fr") == '"""oie"""@fr'

    def test_escaped_quote_artifact(self):
        # visible throughout the golden output, e.g. \'aesthetic\'
        assert language_literal("'aesthetic'") == "\"\"\"'aesthetic'\"\"\"@en"
        assert language_literal('"aesthetic"') == '"""\\\'aesthetic\\\'"""@en'

    def test_idempotent_on_own_content(self):
        once = language_literal('a "quoted" word')
        content = once[3:-6]
        assert language_literal(content) == once


class TestToLabel:
    def test_pascal_title_semantics(self):
        # str.title uppercases after ANY non-alpha char
        assert to_label("Go/no-go task", "PascalCase") == "GoNo-GoTask"

    def test_pascal_acronym_lowered(self):
        assert (
            to_label("stimulus onset asynchrony (SOA)", "PascalCase")
            == "StimulusOnsetAsynchronySoa"
        )

    def test_pascal_hyphen_uppercase(self):
        assert (
            to_label("top-down and bottom-up", "PascalCase")
            == "Top-DownAndBottom-Up"
        )

    def test_camel(self):
        assert to_label("WRITE this in camelcase", "camelCase") == (
            "writeThisInCamelcase"
        )

    def test_delimited(self):
        assert to_label("WRITE this-in delimited") == "WRITE_this-in_delimited"

    def test_delimited_squeeze(self):
        assert to_label("a  b") == "a_b"
        assert to_label("a - b") == "a-b"
        assert to_label("a--b") == "a-b"

    def test_keeps_only_alnum_dash_underscore(self):
        assert to_label("a.b(c)!", "PascalCase") == "ABC"

    def test_empty_raises(self):
        with pytest.raises(ValueError):
            to_label("")


class TestFormatIri:
    def test_plain_label(self):
        assert format_iri("Paper") == ":Paper"

    def test_pascal(self):
        assert format_iri("research paper", "PascalCase") == ":ResearchPaper"

    def test_prefixed_passthrough(self):
        assert format_iri("fabio:hasPublicationYear") == (
            "fabio:hasPublicationYear"
        )

    def test_minted_passthrough_idempotent(self):
        assert format_iri(":Paper") == ":Paper"
        assert format_iri(":GoNo-GoTask") == ":GoNo-GoTask"

    def test_trailing_colon_dropped(self):
        assert format_iri("Paper:") == ":Paper"

    def test_url_wrapped_and_collapsed(self):
        assert format_iri("http://example.org/x") == "<httpexampleorgx>"

    def test_url_with_space_is_not_a_url(self):
        assert format_iri("http://example.org/x y") == ":httpexampleorgx_y"

    def test_strips(self):
        assert format_iri("  Paper  ") == ":Paper"


@requires(REFERENCE_MODULE)
def test_doi_triples_reference_execution_parity(spark):
    """F12: run the REFERENCE's doi_iri (dead code — its add_if /
    language_string names are undefined; shimmed to evident intent) and
    assert our operator emits the identical triple set."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(REFERENCE_MODULE))
    import numpy as np

    if not hasattr(np, "int"):
        np.int = int
    import mhdb.unused_functions as uf
    from mhdb.write_ttl import language_string as ref_lang

    def add_if(subject, predicate, obj, statements):
        statements.setdefault(subject, {}).setdefault(predicate, set()).add(obj)
        return statements

    uf.add_if = add_if
    uf.language_string = ref_lang

    rows = [
        (1, "10.1109/IEEESTD.2015.7084073", "1872-2015 - IEEE Standard Ontologies"),
        (2, "10.1000/xyz(2)", 'quote " in title'),
        (3, None, "no doi -> no triples"),
    ]
    want = set()
    for _, doi, title in rows:
        if doi is None:
            continue
        st = uf.doi_iri(doi, title, statements={})
        for s, po in st.items():
            for p, objs in po.items():
                for o in objs:
                    want.add((s, p, o))

    from mhdb_tables2turtles_spark.operators.triples import doi_triples

    df = spark.createDataFrame(rows, ["row_id", "doi", "title"])
    got = {
        (r.subject, r.predicate, r.object)
        for r in doi_triples(df, "doi", title_col="title").collect()
    }
    assert got == want
