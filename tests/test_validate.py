"""Strict Turtle grammar validation (operators/validate.py) — the
sandbox stand-in for the reference's external-parser pass
(validate_turtle_files.sh), deliberately independent of the lenient
reader in sources/golden.py — plus kill/resume idempotency of the
run_all workbook driver (atomic .ttl writes).
"""

from __future__ import annotations

import os

import pytest
from conftest import GOLDEN_TTL, requires

from mhdb_tables2turtles_spark.operators.validate import (
    TurtleSyntaxError,
    validate_turtle,
    validate_ttl_dir,
)

HDR = "PREFIX : <http://b#>\nPREFIX ex: <http://e#>\n"


# ---------- grammar unit coverage ----------

def test_grammar_accepts_emitted_subset():
    doc = HDR + (
        ':s a ex:Thing ;\n'
        '\tex:label "A \\"quoted\\" label"@en ;\n'
        '\tex:n 3.5 , 42 , 1.0e3 ;\n'
        '\tex:c """multi\nline ""ok"" text"""^^ex:Text ;\n'
        '\tex:u "x"^^<http://www.w3.org/2001/XMLSchema#anyURI> .\n\n'
        '_:b ex:p ( :s 1 "x" ) .\n[ ] ex:p true .\n'
    )
    assert validate_turtle(doc) == 9


def test_grammar_rejects_malformed_escape():
    # the exact class the golden round-trip cannot catch: its own parser
    # would re-read what its own serializer wrote
    with pytest.raises(TurtleSyntaxError):
        validate_turtle(HDR + ':s ex:p "bad \\q escape" .')


@pytest.mark.parametrize(
    "bad",
    [
        ':s ex:p "x" .',                      # undeclared prefix (no HDR)
        HDR + ':s ex:p "unterminated .',      # unclosed string
        HDR + ":s ex:p <http://sp ace> .",    # space in IRIREF
        HDR + ':s "literal" :o .',            # literal as predicate
        HDR + ':s ex:p "x"^^5 .',             # non-IRI datatype
        HDR + ":s ex:p :o",                   # missing terminating dot
        HDR + ":s ex:p .",                    # missing object
        HDR + ':s ex:p "x"@en@fr .',          # double language tag
    ],
)
def test_grammar_rejects(bad):
    with pytest.raises(TurtleSyntaxError):
        validate_turtle(bad)


def test_grammar_langtag_vs_directive_tokens():
    # '@base-x' / '@prefixed' are valid LANGTAGs, not directives
    assert validate_turtle(HDR + ':s ex:p "x"@base-x .') == 1
    assert validate_turtle(HDR + ':s ex:p "x"@prefixed .') == 1
    # exactly '@prefix' after a string is a directive token per the W3C
    # grammar notes (not a registered language subtag) -> syntax error
    with pytest.raises(TurtleSyntaxError):
        validate_turtle(HDR + ':s ex:p "x"@prefix .')


@requires(GOLDEN_TTL)
def test_grammar_accepts_reference_golden_file():
    # the reference's own emitted output must parse (it passed the
    # reference's external `ttl` validator when committed)
    text = open(GOLDEN_TTL, encoding="utf-8").read()
    assert validate_turtle(text) > 1600


# ---------- emitted artifacts ----------

@requires(GOLDEN_TTL)
def test_run_all_outputs_validate(spark, tmp_path):
    """All six workbook .ttl files pass the strict grammar check (the
    Spark analogue of the reference's validate_turtle_files.sh pass)."""
    from mhdb_tables2turtles_spark.plans import runner

    res = runner.run_all(spark, str(tmp_path / "full"))  # validate=True
    assert set(res) == {
        "states", "disorders", "resources", "assessments", "measures",
        "chills",
    }
    for name, info in res.items():
        assert info["n_pairs_validated"] and info["n_pairs_validated"] > 0
        # and the on-disk artifact re-validates independently
        assert validate_turtle(
            open(info["path"], encoding="utf-8").read()
        ) == info["n_pairs_validated"]


def test_run_all_kill_resume(spark, tmp_path, monkeypatch):
    """run_all is kill/resume-safe: a run that dies mid-sequence (after
    some atomic writes, with a torn .tmp on disk) is completed by simply
    re-running, byte-identical to an uninterrupted run.  (Registry
    restricted to three workbooks to keep the test fast — the protocol
    is per-workbook, so three exercise it fully.)"""
    from mhdb_tables2turtles_spark.plans import runner

    # resources must stay in the registry: run_all reads its ontologies
    # sheet as the header prefix table
    small = {
        k: runner.WORKBOOKS[k] for k in ("states", "measures", "resources")
    }
    monkeypatch.setattr(runner, "WORKBOOKS", small)

    out1 = str(tmp_path / "full")
    runner.run_all(spark, out1)

    # --- kill mid-run: die while writing the 2nd workbook ---
    out2 = str(tmp_path / "killed")
    orig = runner.render_document
    calls = {"n": 0}

    def dying_render(*a, **kw):
        calls["n"] += 1
        doc = orig(*a, **kw)
        if calls["n"] == 2:
            # simulate dying mid-write: torn tmp file then crash
            os.makedirs(out2, exist_ok=True)
            with open(os.path.join(out2, "measures.ttl.tmp"), "w") as f:
                f.write(doc[: len(doc) // 2])
            raise KeyboardInterrupt("killed mid-write")
        return doc

    monkeypatch.setattr(runner, "render_document", dying_render)
    with pytest.raises(KeyboardInterrupt):
        runner.run_all(spark, out2)
    monkeypatch.setattr(runner, "render_document", orig)

    done = sorted(f for f in os.listdir(out2) if f.endswith(".ttl"))
    assert done == ["states.ttl"]  # first workbook committed atomically
    assert os.path.exists(os.path.join(out2, "measures.ttl.tmp"))

    # --- resume: plain re-run completes; output == uninterrupted run ---
    runner.run_all(spark, out2)
    for name in small:
        a = open(os.path.join(out1, f"{name}.ttl"), encoding="utf-8").read()
        b = open(os.path.join(out2, f"{name}.ttl"), encoding="utf-8").read()
        assert a == b, f"{name}.ttl differs after kill/resume"


@requires(GOLDEN_TTL)
def test_web_pipeline_ttl_shards_validate(spark, tmp_path):
    """The web pipeline's sharded Turtle output (header.ttl + part files)
    parses as one concatenated document under the strict grammar."""
    from mhdb_tables2turtles_spark.web.pipeline import KGPipeline, build_corpus

    wd = str(tmp_path / "kg")
    corpus = build_corpus(
        spark, n_pages=30, seed=11, ttl_path=GOLDEN_TTL, partitions=2
    )
    KGPipeline(spark, wd, ttl_path=GOLDEN_TTL).run(
        corpus, include_ontology=True, write_turtle=True
    )
    n_pairs = validate_ttl_dir(os.path.join(wd, "ttl"))
    assert n_pairs > 1600  # ontology included: at least the golden pairs


@requires(GOLDEN_TTL)
def test_owl_profile_vocabulary(spark):
    """profile="owl" maps the reference's nonstandard tokens to the
    write_rdf vocabulary (owl:Class / owl:ObjectProperty /
    owl:equivalentProperty); default profile preserves them verbatim
    (golden parity is asserted separately in test_golden_chills)."""
    from mhdb_tables2turtles_spark.operators.serialize import (
        owl_profile,
        render_document,
    )
    from mhdb_tables2turtles_spark.plans.runner import build_workbook

    triples = build_workbook(spark, "chills").cache()
    ref = {(r.predicate, r.object) for r in triples.collect()}
    assert ("a", "rdf:Class") in ref
    assert ("a", "rdf:Property") in ref
    assert any(p == "rdfs:equivalentProperty" for p, _ in ref)

    owl_triples = owl_profile(triples)
    owl = {(r.predicate, r.object) for r in owl_triples.collect()}
    assert ("a", "owl:Class") in owl and ("a", "rdf:Class") not in owl
    assert ("a", "owl:ObjectProperty") in owl
    assert ("a", "rdf:Property") not in owl
    assert any(p == "owl:equivalentProperty" for p, _ in owl)
    assert not any(p == "rdfs:equivalentProperty" for p, _ in owl)
    # everything else unchanged: same triple count, same subjects
    assert len(owl) == len(ref)

    # the flag-on document still validates under the strict grammar
    doc = render_document(
        owl_triples, "http://www.purl.org/mentalhealth/chills", "0.1.0",
        "chills", "owl profile", prefix_table={"fabio": "http://x/f"},
    )
    assert validate_turtle(doc) > 0
    assert "owl:ObjectProperty" in doc and " rdf:Property" not in doc


def test_run_all_records_validation_error_and_continues(
    spark, tmp_path, monkeypatch
):
    """A workbook whose document fails the grammar check is NOT written,
    its error is recorded, and the remaining workbooks still build —
    one bad cell never crashes the whole driver run."""
    from mhdb_tables2turtles_spark.plans import runner

    small = {
        k: runner.WORKBOOKS[k] for k in ("states", "measures", "resources")
    }
    monkeypatch.setattr(runner, "WORKBOOKS", small)
    orig = runner.render_document
    calls = {"n": 0}

    def poisoned_render(*a, **kw):
        calls["n"] += 1
        doc = orig(*a, **kw)
        if calls["n"] == 1:  # first workbook gets an invalid escape
            return doc + '\n:bad :cell """C:\\path\\q file""" .\n'
        return doc

    monkeypatch.setattr(runner, "render_document", poisoned_render)
    out = str(tmp_path / "ttl")
    res = runner.run_all(spark, out)
    assert res["states"]["path"] is None
    assert "line" in res["states"]["validation_error"]
    assert not os.path.exists(os.path.join(out, "states.ttl"))
    for name in ("measures", "resources"):
        assert res[name]["validation_error"] is None
        assert os.path.exists(res[name]["path"])


def test_run_all_skips_workbook_with_missing_input(
    spark, tmp_path, monkeypatch
):
    """A workbook whose input file is missing is skipped with a reason
    naming the file (and any stale .ttl removed); the others still
    build."""
    from mhdb_tables2turtles_spark.plans import runner
    from mhdb_tables2turtles_spark.sources.golden import (
        load_golden_triples,
        reverse_fixture,
    )

    missing = str(tmp_path / "absent" / "chills.ttl")
    small = {
        k: runner.WORKBOOKS[k] for k in ("states", "measures", "resources")
    }
    small["chills"] = (
        runner.WORKBOOKS["chills"][0],
        lambda: reverse_fixture(load_golden_triples(missing)),
    )
    monkeypatch.setattr(runner, "WORKBOOKS", small)
    out = tmp_path / "ttl"
    out.mkdir()
    (out / "chills.ttl").write_text("stale")
    res = runner.run_all(spark, str(out))
    for name in ("states", "measures", "resources"):
        assert res[name]["skipped"] is None
        assert os.path.exists(res[name]["path"])
    assert res["chills"]["path"] is None
    assert missing in res["chills"]["skipped"]
    assert not (out / "chills.ttl").exists()


def test_web_pipeline_raises_on_undeclarable_prefix(spark, tmp_path):
    """The web write path has no separate validation pass, so a triple
    prefix the ontology header cannot declare must fail at header-write
    time instead of landing an invalid artifact behind the resume gate."""
    from mhdb_tables2turtles_spark.operators.serialize import (
        resolve_used_prefixes,
        used_prefixes,
    )

    t = spark.createDataFrame(
        [(":s", "wd:undeclared", ":o")], ["subject", "predicate", "object"]
    )
    used = used_prefixes(t)
    with pytest.raises(ValueError, match="wd"):
        resolve_used_prefixes(used, {"fabio": "http://x/"}, on_unknown="raise")
    # skip mode (used where a later validation pass exists) drops it
    assert resolve_used_prefixes(used, {"fabio": "http://x/"}) == []


def test_iriref_and_blank_node_terms_declare_no_prefix(spark):
    """``<urn:isbn:…>`` and ``_:b0`` contain a colon but are not prefixed
    names: neither the web harvest nor a document's blocks read a prefix
    from them, so the strict web write accepts a graph that validates."""
    from mhdb_tables2turtles_spark.operators.serialize import (
        render_document,
        render_header,
        resolve_used_prefixes,
        subject_blocks,
        used_prefixes,
    )

    t = spark.createDataFrame(
        [(":s", "rdfs:seeAlso", "<urn:isbn:0451450523>"), (":s", ":p", "_:b0")],
        ["subject", "predicate", "object"],
    )
    assert used_prefixes(t) == {"rdfs"}
    assert [r.prefixes for r in subject_blocks(t).collect()] == [["rdfs"]]
    assert resolve_used_prefixes(used_prefixes(t), {}, on_unknown="raise") == []
    args = ("http://example.org/o", "0", "o", "o")
    doc = render_document(t, *args)
    assert doc.startswith(render_header(*args))
    assert validate_turtle(doc) == 2 + validate_turtle(render_header(*args))


def test_shard_writer_prunes_the_prefix_aggregate(spark, tmp_path, monkeypatch):
    """The ``prefixes`` column of ``subject_blocks`` costs the web shard
    writer nothing: its optimized plan holds no prefix aggregate."""
    from mhdb_tables2turtles_spark.operators.serialize import (
        subject_blocks,
        write_body_shards,
    )

    t = spark.createDataFrame(
        [(":s", "obo:p", "obo:o"), (":t", ":p", '"x"')],
        ["subject", "predicate", "object"],
    )
    cls = type(t)
    write = cls.write
    written = []
    monkeypatch.setattr(
        cls, "write", property(lambda df: written.append(df) or write.fget(df))
    )
    write_body_shards(t, str(tmp_path / "ttl"))

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "flatten" in optimized(subject_blocks(t))
    assert len(written) == 1 and "flatten" not in optimized(written[0])


def test_parse_turtle_surface_terms():
    from mhdb_tables2turtles_spark.operators.validate import (
        TurtleSyntaxError,
        parse_turtle,
    )

    doc = (
        "@prefix ex: <http://example.org/> .\n"
        "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n"
        'ex:a a ex:Thing ;\n'
        '  ex:label "Hello"@en , "Welt"@de ;\n'
        '  ex:size "3"^^xsd:integer ;\n'
        "  ex:n 42 ;\n"
        "  ex:ok true ;\n"
        "  ex:link <http://x.org/y> .\n"
        "_:b1 ex:p ex:a .\n"
    )
    got = set(parse_turtle(doc))
    assert got == {
        ("ex:a", "a", "ex:Thing"),
        ("ex:a", "ex:label", '"Hello"@en'),
        ("ex:a", "ex:label", '"Welt"@de'),
        ("ex:a", "ex:size", '"3"^^xsd:integer'),
        ("ex:a", "ex:n", "42"),
        ("ex:a", "ex:ok", "true"),
        ("ex:a", "ex:link", "<http://x.org/y>"),
        ("_:b1", "ex:p", "ex:a"),
    }

    # nested blank-node property list mints deterministic bnodes
    nested = (
        "@prefix ex: <http://example.org/> .\n"
        "ex:a ex:p [ ex:q ex:b ; ex:r ex:c ] .\n"
    )
    got = set(parse_turtle(nested))
    assert got == {
        ("ex:a", "ex:p", "_:gen1"),
        ("_:gen1", "ex:q", "ex:b"),
        ("_:gen1", "ex:r", "ex:c"),
    }

    # collections validate but refuse to collect
    coll = "@prefix ex: <http://e.org/> .\nex:a ex:p (ex:b ex:c) .\n"
    from mhdb_tables2turtles_spark.operators.validate import validate_turtle
    assert validate_turtle(coll) == 1
    with pytest.raises(ValueError):
        parse_turtle(coll)
    # strictness inherited: undeclared prefix still raises
    with pytest.raises(TurtleSyntaxError):
        parse_turtle("ex:a ex:p ex:b .\n")


@requires(GOLDEN_TTL)
def test_parse_turtle_matches_golden_oracle_parser():
    """The grammar-exact collector and the layout-specific oracle parser
    agree on the reference's own emitted document (body triples)."""
    from mhdb_tables2turtles_spark.operators.validate import parse_turtle
    from mhdb_tables2turtles_spark.sources.golden import parse_turtle_body

    with open(GOLDEN_TTL, encoding="utf-8") as f:
        text = f.read()
    grammar = {
        t for t in parse_turtle(text) if not t[0].startswith("<")
    }  # drop the header's owl:Ontology block (IRIREF subject)
    oracle = set(parse_turtle_body(text))
    assert grammar == oracle


def test_read_turtle_dir_roundtrip(spark, tmp_path, onto_ttl):
    """Sink → distributed source round trip: the engine's own sharded
    Turtle output reads back as exactly the canonical triple set."""
    from mhdb_tables2turtles_spark.sources.turtle import read_turtle_dir
    from mhdb_tables2turtles_spark.web.pipeline import (
        KGPipeline,
        build_corpus,
    )

    wd = str(tmp_path / "kg")
    pages = build_corpus(spark, n_pages=60, seed=5, ttl_path=onto_ttl)
    pipe = KGPipeline(spark, wd, ttl_path=onto_ttl)
    out = pipe.run(pages, write_turtle=True)
    canonical = out["canonical"]
    back = read_turtle_dir(spark, f"{wd}/ttl")
    assert back.count() == canonical.count()
    assert back.exceptAll(canonical).count() == 0
    assert canonical.exceptAll(back).count() == 0
    with pytest.raises(FileNotFoundError):
        read_turtle_dir(spark, str(tmp_path / "nope"))


def test_read_turtle_skolemizes_bnodes_per_file(spark, tmp_path):
    """Blank-node labels are document-scoped (RDF 1.1 Turtle §6.3):
    '_:b0' in two files is two nodes.  read_turtle must NOT collapse
    them in the unioned DataFrame — each file's labels (source '_:b0'
    and parser-minted '_:genN' alike) get a per-file skolem prefix."""
    from mhdb_tables2turtles_spark.sources.turtle import read_turtle

    doc = '@prefix ex: <http://ex.org/> .\n_:b0 ex:p ex:a .\nex:c ex:r [ ex:q ex:b ] .\n'
    for name in ("one.ttl", "two.ttl"):
        (tmp_path / name).write_text(doc, encoding="utf-8")
    rows = read_turtle(spark, str(tmp_path / "*.ttl")).collect()
    assert len(rows) == 6
    bnodes = {
        t
        for r in rows
        for t in (r["subject"], r["object"])
        if t.startswith("_:")
    }
    # 2 files x (1 labeled + 1 minted) = 4 distinct skolemized nodes
    assert len(bnodes) == 4
    labeled = sorted(b for b in bnodes if b.endswith("_b0"))
    assert len(labeled) == 2 and labeled[0] != labeled[1]


def test_read_turtle_document_scope_reunites_labels(spark, tmp_path):
    """scope='document' (what read_turtle_dir uses): the matched files
    are fragments of ONE document, so a source label split across
    fragments — '_:x' as object in shard A, as subject of its own
    block in shard B — reunites into one node, while parser-minted
    anonymous nodes stay distinct per fragment."""
    from mhdb_tables2turtles_spark.sources.turtle import read_turtle

    (tmp_path / "part-0.ttl").write_text(
        '@prefix ex: <http://ex.org/> .\n'
        'ex:a ex:p _:x .\n'
        'ex:c ex:r [ ex:q ex:b ] .\n',
        encoding="utf-8",
    )
    (tmp_path / "part-1.ttl").write_text(
        '@prefix ex: <http://ex.org/> .\n'
        '_:x ex:s ex:d .\n'
        'ex:e ex:r [ ex:q ex:f ] .\n',
        encoding="utf-8",
    )
    rows = read_turtle(
        spark, str(tmp_path / "part-*.ttl"), scope="document"
    ).collect()
    bnodes = {
        t
        for r in rows
        for t in (r["subject"], r["object"])
        if t.startswith("_:")
    }
    # one reunited labeled node + two per-fragment anonymous nodes
    assert "_:x" in bnodes and len(bnodes) == 3
    # the labeled node is connected: object in one triple, subject in
    # another — the graph is NOT disconnected by the shard boundary
    assert any(r["object"] == "_:x" for r in rows)
    assert any(r["subject"] == "_:x" for r in rows)
    # file scope on the same input keeps the labels apart
    rows_f = read_turtle(spark, str(tmp_path / "part-*.ttl")).collect()
    bn_f = {
        t
        for r in rows_f
        for t in (r["subject"], r["object"])
        if t.startswith("_:")
    }
    assert len(bn_f) == 4 and "_:x" not in bn_f
