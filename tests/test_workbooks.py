"""Parity gate for the non-chills workbook plans: the REFERENCE CODE
ITSELF is the oracle.

Each test feeds the same deterministic fixture frames to (a) the
reference's ``ingest_*`` function (run unmodified via a fake-ExcelFile
shim, with ``np.int`` restored for numpy>=1.24) and (b) our SheetSpec
plan, then asserts the two triple sets are identical — P = R = 1.0, a
stricter gate than the BASELINE P/R >= 0.95 target.  Those tests skip
where the reference checkout is absent; the snapshot, emitter edge-case
and plan-shape tests below need nothing outside the repo.
"""

from __future__ import annotations

import difflib
import os
import sys

import numpy as np
import pytest
from conftest import REFERENCE_MODULE

REFERENCE = os.path.dirname(REFERENCE_MODULE)


class FakeXls:
    """Duck-typed stand-in for pandas.ExcelFile: .parse(sheet) -> frame."""

    def __init__(self, frames):
        self.frames = frames

    def parse(self, name):
        return self.frames[name].copy()


@pytest.fixture(scope="module")
def reference_ingest():
    if not hasattr(np, "int"):
        np.int = int  # removed alias; the 2020 reference predates numpy 1.24
    if REFERENCE not in sys.path:
        sys.path.insert(0, REFERENCE)
    try:
        import mhdb.ingest as ingest
    except ImportError:
        pytest.skip(f"needs the reference checkout at {REFERENCE}")

    return ingest


def golden_set(statements: dict) -> set[tuple[str, str, str]]:
    return {
        (s, p, o)
        for s, po in statements.items()
        for p, objs in po.items()
        for o in objs
    }


def plan_set(spark, frames, specs) -> set[tuple[str, str, str]]:
    from mhdb_tables2turtles_spark.operators.triples import dedup_triples
    from mhdb_tables2turtles_spark.plans.sheetspec import workbook_triples
    from mhdb_tables2turtles_spark.sources.workbooks import spark_tables

    tables = spark_tables(spark, frames)
    t = dedup_triples(workbook_triples(tables, specs))
    return {(r.subject, r.predicate, r.object) for r in t.collect()}


def assert_equal_sets(got: set, want: set):
    missing = want - got
    extra = got - want
    assert not missing and not extra, (
        f"missing={sorted(missing)[:10]}\nextra={sorted(extra)[:10]}\n"
        f"(missing {len(missing)}, extra {len(extra)} of {len(want)} golden)"
    )


def test_states_matches_reference(spark, reference_ingest):
    from mhdb_tables2turtles_spark.plans.states import STATES_SPECS
    from mhdb_tables2turtles_spark.sources.workbooks import states_frames

    frames = states_frames()
    # ingest_states as written crashes (NameError: states_classes /
    # audience_statements, ingest.py:123-125); run only its executable
    # sheet loops by patching the dead names to the evident intent
    ingest = reference_ingest
    src = _patched_ingest_states(ingest)
    want = golden_set(src(FakeXls(frames), statements={}))
    got = plan_set(spark, frames, STATES_SPECS)
    assert_equal_sets(got, want)


def _patched_ingest_states(ingest):
    """Reference ingest_states with its three NameError typos aliased to
    the parsed frames (states_classes->state_classes etc.) — no semantic
    change; the loops themselves run verbatim."""
    import types

    fn = ingest.ingest_states
    g = dict(fn.__globals__)
    g["audience_statements"] = lambda statements: statements

    code = fn.__code__
    patched = types.FunctionType(code, g, fn.__name__, fn.__defaults__)

    def run(xls, statements):
        frames = dict(xls.frames)
        # expose the misspelled names the loops read
        class Shim(FakeXls):
            def parse(self, name):
                return self.frames[name].copy()

        shim = Shim(frames)
        # the function body assigns state_classes but iterates
        # states_classes: pre-seed the globals it will fall back to
        g["states_classes"] = frames["Classes"].fillna(ingest.emptyValue)
        g["states_properties"] = frames["Properties"].fillna(ingest.emptyValue)
        return patched(shim, statements)

    return run


def test_disorders_matches_reference(spark, reference_ingest):
    from mhdb_tables2turtles_spark.operators.triples import dedup_triples
    from mhdb_tables2turtles_spark.plans.disorders import disorders_triples
    from mhdb_tables2turtles_spark.sources.workbooks import (
        disorders_frames,
        spark_tables,
    )

    frames = disorders_frames()
    want = golden_set(
        reference_ingest.ingest_disorders(FakeXls(frames), statements={})
    )
    tables = spark_tables(spark, frames)
    t = dedup_triples(disorders_triples(tables))
    got = {(r.subject, r.predicate, r.object) for r in t.collect()}
    assert_equal_sets(got, want)


def test_resources_matches_reference(spark, reference_ingest):
    from mhdb_tables2turtles_spark.operators.triples import dedup_triples
    from mhdb_tables2turtles_spark.plans.resources import resources_triples
    from mhdb_tables2turtles_spark.sources.workbooks import (
        resources_frames,
        spark_tables,
    )

    frames = resources_frames()
    xls = FakeXls(frames)
    want = golden_set(
        reference_ingest.ingest_resources(xls, xls, xls, statements={})
    )
    tables = spark_tables(spark, frames)
    t = dedup_triples(resources_triples(tables))
    got = {(r.subject, r.predicate, r.object) for r in t.collect()}
    assert_equal_sets(got, want)


def test_resources_license_intent(spark):
    """The reference's index_license branch is dead (NameError 'shared',
    ingest.py:1312); our plan implements the licenses-sheet lookup it
    plainly intended.  Covered here since the parity fixture must keep
    the column empty for the reference to run."""
    from mhdb_tables2turtles_spark.operators.triples import dedup_triples
    from mhdb_tables2turtles_spark.plans.resources import resources_triples
    from mhdb_tables2turtles_spark.sources.workbooks import (
        resources_frames,
        spark_tables,
    )

    frames = resources_frames()
    frames["guides"] = frames["guides"].copy()
    frames["guides"].loc[0, "index_license"] = 2
    tables = spark_tables(spark, frames)
    t = dedup_triples(resources_triples(tables))
    lic = [
        (r.subject, r.object)
        for r in t.filter(t.predicate == ":hasLicense").collect()
    ]
    assert len(lic) == 1, f"expected one license triple, got {lic}"
    assert lic[0][1] != "", lic


def test_ontologies_prefix_table_plan(spark):
    """S5 second half: the header's ontology PREFIX lines come from the
    resources workbook's ontologies sheet, looked up for the prefixes
    the document's subject blocks use — not a caller-supplied dict."""
    from mhdb_tables2turtles_spark.operators.serialize import render_document
    from mhdb_tables2turtles_spark.operators.triples import dedup_triples
    from mhdb_tables2turtles_spark.plans.resources import resources_triples
    from mhdb_tables2turtles_spark.sources.workbooks import (
        resources_frames,
        spark_tables,
    )

    frames = resources_frames()
    tables = spark_tables(spark, frames)
    t = dedup_triples(resources_triples(tables))
    doc = render_document(
        t, "http://www.purl.org/mentalhealth/resources", "1.0.0",
        "resources", "resources workbook", prefix_table=tables["ontologies"],
    )
    header = doc.split("owl:Ontology")[0]
    # obo: used by equivalentClasses cells -> resolved from the sheet
    assert "PREFIX obo: <http://purl.obolibrary.org/obo/>" in header
    # declared in the sheet but never used in a triple -> absent
    assert "unused" not in header
    # fixed prefixes still present exactly once
    assert header.count("PREFIX owl:") == 1


def test_assessments_matches_reference(spark, reference_ingest):
    from mhdb_tables2turtles_spark.operators.triples import dedup_triples
    from mhdb_tables2turtles_spark.plans.assessments import assessments_triples
    from mhdb_tables2turtles_spark.sources.workbooks import (
        assessments_frames,
        spark_tables,
    )

    frames = assessments_frames()
    xls = FakeXls(frames)
    want = golden_set(
        reference_ingest.ingest_assessments(xls, xls, statements={})
    )
    tables = spark_tables(spark, frames)
    t = dedup_triples(assessments_triples(tables))
    got = {(r.subject, r.predicate, r.object) for r in t.collect()}
    assert_equal_sets(got, want)


def test_measures_matches_reference(spark, reference_ingest):
    from mhdb_tables2turtles_spark.plans.measures import MEASURES_SPECS
    from mhdb_tables2turtles_spark.sources.workbooks import measures_frames

    frames = measures_frames()
    want = golden_set(
        reference_ingest.ingest_measures(FakeXls(frames), statements={})
    )
    got = plan_set(spark, frames, MEASURES_SPECS)
    assert_equal_sets(got, want)


# ------------------------------------------- in-repo snapshots and shape

SNAPSHOTS = os.path.join(os.path.dirname(__file__), "data", "workbooks")
FIXTURE_WORKBOOKS = ("states", "disorders", "resources", "assessments", "measures")


@pytest.fixture(scope="module")
def ontologies(spark):
    from mhdb_tables2turtles_spark.plans.runner import load_workbook_tables

    return load_workbook_tables(spark, "resources")["ontologies"].localCheckpoint()


def render_fixture(spark, name: str, ontologies) -> str:
    """One fixture workbook as Turtle, rendered the way the workbooks
    benchmark renders it."""
    from mhdb_tables2turtles_spark.operators.serialize import render_document
    from mhdb_tables2turtles_spark.plans.runner import build_workbook

    triples = build_workbook(spark, name).localCheckpoint()
    return render_document(
        triples, f"http://www.purl.org/mentalhealth/{name}", "0.1.0",
        name, f"{name} workbook", prefix_table=ontologies,
    )


@pytest.mark.parametrize("name", FIXTURE_WORKBOOKS)
def test_workbook_snapshot(spark, ontologies, name):
    """Byte-for-byte guard on plan output that needs no reference
    checkout: each fixture workbook renders exactly its committed
    ``tests/data/workbooks/<name>.ttl``."""
    with open(os.path.join(SNAPSHOTS, f"{name}.ttl"), encoding="utf-8") as f:
        want = f.read()
    got = render_fixture(spark, name, ontologies)
    if got != want:
        diff = difflib.unified_diff(
            want.splitlines(), got.splitlines(), "snapshot", "rendered",
            lineterm="", n=1,
        )
        pytest.fail("\n".join(list(diff)[:40]))


def test_render_document_is_one_collect(spark, ontologies):
    """A document is one collect of its subject blocks: at most two
    Spark jobs (the shuffle map stage and the result) over a
    materialized workbook."""
    from mhdb_tables2turtles_spark.operators.serialize import (
        prefix_dict,
        render_document,
    )
    from mhdb_tables2turtles_spark.plans.runner import build_workbook

    triples = build_workbook(spark, "states").localCheckpoint()
    known = prefix_dict(ontologies)
    sc = spark.sparkContext
    sc.setJobGroup("render-one-collect", "render_document job count")
    try:
        render_document(
            triples, "http://www.purl.org/mentalhealth/states", "0.1.0",
            "states", "states workbook", prefix_table=known,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("render-one-collect")
    assert 1 <= len(jobs) <= 2, jobs


def test_render_document_orders_blocks_as_spark_does(spark):
    """The driver-side block sort is Spark's ``orderBy(block_order,
    block)``: key fields left to right, nulls first, ties by text."""
    from mhdb_tables2turtles_spark.operators.serialize import (
        render_document,
        render_header,
        subject_blocks,
    )

    t = spark.createDataFrame(
        [(":a", "a", ":C", 1, 5, 0), (":b", "a", ":C", 1, None, 0),
         (":c", "a", ":C", None, 2, 0), (":d", "a", ":C", 0, 9, None),
         (":e", "a", ":C", 0, 9, 1), (":f", "a", ":C", 1, 5, 0)],
        "subject string, predicate string, object string, "
        "sheet_rank int, row_id long, pred_rank int",
    )
    spark_order = subject_blocks(t).orderBy("block_order", "block")
    want = "\n\n".join(r.block for r in spark_order.collect())
    args = ("http://example.org/o", "0", "o", "o")
    assert render_document(t, *args) == render_header(*args) + want
    assert want.index(":c ") < want.index(":d ") < want.index(":b ")


def test_prefix_table_dataframe_equals_dict(spark):
    """An ontologies sheet renders the same document as the dict it
    trims to: padded cells are trimmed, a null IRI declares nothing."""
    from mhdb_tables2turtles_spark.operators.serialize import render_document

    t = spark.createDataFrame(
        [(":s", "a", "obo:X"), (":s", "skos:note", ":o"), (":o", "a", ":C")],
        ["subject", "predicate", "object"],
    )
    sheet = spark.createDataFrame(
        [("  obo ", " http://purl.obolibrary.org/obo/ "), ("skos", None),
         (None, "http://x/"), ("", "http://y/")],
        "prefix string, iri string",
    )
    args = ("http://example.org/o", "0", "o", "o")
    doc = render_document(t, *args, prefix_table=sheet)
    assert doc == render_document(
        t, *args, prefix_table={"obo": "http://purl.obolibrary.org/obo/"}
    )
    assert "PREFIX obo: <http://purl.obolibrary.org/obo/> \n" in doc
    assert "PREFIX skos" not in doc


def _edge_tables(spark):
    """One sheet whose optional cells are present, sentinel or null, plus
    the two dimensions its foreign keys resolve against."""
    cols = ("name", "code", "num", "year", "aliases", "refs", "broader",
            "parent", "owner", "tags", "tag_kind")
    schema = "index long, row_id long, " + ", ".join(f"{c} string" for c in cols)
    E, N = "EmptyValue", None
    rows = [
        (0, 0, "Alpha Item", "1", "12.0", "1999", "First, Premier",
         "beta thing, gamma", "Big Thing", "1", "0", "0,1", "1"),
        (1, 1, "Beta", E, "nan", E, E, E, "nan", E, "nan", E, E),
        (2, 2, "Gamma", N, N, N, N, N, N, N, N, N, N),
        (3, 3, "Delta", "7", "3", "2001.0", " , Second,, nan", ", delta one,,",
         "  ", "5", "1", "1", N),
        (4, 4, E, "2", "1", "1990", "x", "y", "z", "0", "0", "0", "1"),
        (5, 5, N, "2", "1", "1990", "x", "y", "z", "0", "0", "0", "1"),
        (6, 6, "Epsilon", "2.0", "0", "1987", N, "zeta", N, "0, 3", N, "2,0", "9"),
    ]
    return {
        "items": spark.createDataFrame(rows, schema),
        "owners": spark.createDataFrame(
            [(0, 0, "Org One"), (1, 1, "Org Two")],
            "index long, row_id long, owner string",
        ),
        "tags": spark.createDataFrame(
            [(0, 0, "red"), (1, 1, "Blue Green"), (2, 2, E)],
            "index long, row_id long, tag string",
        ),
    }


def _edge_spec():
    from mhdb_tables2turtles_spark.plans.sheetspec import (
        CodeMap,
        Constant,
        ForeignKey,
        IriRef,
        Literal,
        SheetSpec,
    )

    return SheetSpec(
        table="items", subject_column="name", rdf_type=":Item",
        emitters=(
            Constant("rdfs:subClassOf", ":Thing"),
            CodeMap("code", ":hasKind", ((1, ":One"), (2, ":Two")), default=":Other"),
            Literal("num", ":hasCount", "nonNegativeInteger", int_cast=True),
            Literal("year", ":hasYear", "gyear"),
            Literal("aliases", "rdfs:label", split=True),
            IriRef("refs", ":seeAlso", split=True, raw=False),
            IriRef("broader", "rdfs:subClassOf", raw=False, default=":Root"),
            ForeignKey("parent", "items", "name", ":hasParent", default=":NoParent"),
            ForeignKey("owner", "owners", "owner", ":owns", reverse=True),
            ForeignKey("tags", "tags", "tag", ":tagged", obj_prefix="ex",
                       pred_code_column="tag_kind",
                       pred_map=((1, ":primaryTag"),), pred_default=":otherTag"),
        ),
    )


# sheet_triples(_edge_tables(spark), _edge_spec(), 3), sorted
EDGE_TRIPLES = [
    (':AlphaItem', ':hasCount', '"12"^^xsd:nonNegativeInteger', 3, 0, 4),
    (':AlphaItem', ':hasKind', ':One', 3, 0, 3),
    (':AlphaItem', ':hasParent', ':Beta', 3, 0, 9),
    (':AlphaItem', ':hasYear', '"1999"^^xsd:gyear', 3, 0, 5),
    (':AlphaItem', ':primaryTag', 'ex:BlueGreen', 3, 0, 11),
    (':AlphaItem', ':primaryTag', 'ex:Red', 3, 0, 11),
    (':AlphaItem', ':seeAlso', ':beta_thing', 3, 0, 7),
    (':AlphaItem', ':seeAlso', ':gamma', 3, 0, 7),
    (':AlphaItem', 'a', ':Item', 3, 0, 0),
    (':AlphaItem', 'rdfs:label', '"""Alpha Item"""@en', 3, 0, 1),
    (':AlphaItem', 'rdfs:label', '"""First"""@en', 3, 0, 6),
    (':AlphaItem', 'rdfs:label', '"""Premier"""@en', 3, 0, 6),
    (':AlphaItem', 'rdfs:subClassOf', ':Big_Thing', 3, 0, 8),
    (':AlphaItem', 'rdfs:subClassOf', ':Thing', 3, 0, 2),
    (':Beta', ':hasParent', ':NoParent', 3, 1, 9),
    (':Beta', 'a', ':Item', 3, 1, 0),
    (':Beta', 'rdfs:label', '"""Beta"""@en', 3, 1, 1),
    (':Beta', 'rdfs:subClassOf', ':Root', 3, 1, 8),
    (':Beta', 'rdfs:subClassOf', ':Thing', 3, 1, 2),
    (':Delta', ':hasCount', '"3"^^xsd:nonNegativeInteger', 3, 3, 4),
    (':Delta', ':hasKind', ':Other', 3, 3, 3),
    (':Delta', ':hasYear', '"2001"^^xsd:gyear', 3, 3, 5),
    (':Delta', ':otherTag', 'ex:BlueGreen', 3, 3, 11),
    (':Delta', ':seeAlso', ':delta_one', 3, 3, 7),
    (':Delta', 'a', ':Item', 3, 3, 0),
    (':Delta', 'rdfs:label', '"""Delta"""@en', 3, 3, 1),
    (':Delta', 'rdfs:label', '"""Second"""@en', 3, 3, 6),
    (':Delta', 'rdfs:subClassOf', ':Root', 3, 3, 8),
    (':Delta', 'rdfs:subClassOf', ':Thing', 3, 3, 2),
    (':Epsilon', ':hasCount', '"0"^^xsd:nonNegativeInteger', 3, 6, 4),
    (':Epsilon', ':hasKind', ':Two', 3, 6, 3),
    (':Epsilon', ':hasParent', ':AlphaItem', 3, 6, 9),
    (':Epsilon', ':hasParent', ':Delta', 3, 6, 9),
    (':Epsilon', ':hasYear', '"1987"^^xsd:gyear', 3, 6, 5),
    (':Epsilon', ':otherTag', 'ex:Red', 3, 6, 11),
    (':Epsilon', ':seeAlso', ':zeta', 3, 6, 7),
    (':Epsilon', 'a', ':Item', 3, 6, 0),
    (':Epsilon', 'rdfs:label', '"""Epsilon"""@en', 3, 6, 1),
    (':Epsilon', 'rdfs:subClassOf', ':Root', 3, 6, 8),
    (':Epsilon', 'rdfs:subClassOf', ':Thing', 3, 6, 2),
    (':Gamma', ':hasParent', ':NoParent', 3, 2, 9),
    (':Gamma', 'a', ':Item', 3, 2, 0),
    (':Gamma', 'rdfs:label', '"""Gamma"""@en', 3, 2, 1),
    (':Gamma', 'rdfs:subClassOf', ':Root', 3, 2, 8),
    (':Gamma', 'rdfs:subClassOf', ':Thing', 3, 2, 2),
    (':OrgOne', ':owns', ':AlphaItem', 3, 0, 10),
    (':OrgTwo', ':owns', ':Delta', 3, 3, 10),
]


def test_emitter_edge_cases(spark):
    """Every emitter kind over present, sentinel and null cells: the
    compiler's output rows, order keys included.  Absent-cell defaults
    (IriRef/ForeignKey ``default``) fire only on absent cells;
    ``CodeMap.default`` only on present, unmapped codes."""
    from mhdb_tables2turtles_spark.plans.sheetspec import sheet_triples

    t = sheet_triples(_edge_tables(spark), _edge_spec(), 3)
    got = sorted(
        (r.subject, r.predicate, r.object, r.sheet_rank, r.row_id, r.pred_rank)
        for r in t.collect()
    )
    assert got == sorted(EDGE_TRIPLES)


def test_states_plan_is_one_pass_per_sheet(spark):
    """The states build scans each sheet once for all its row-local
    emitters, once per split emitter and twice (fact + dimension) per
    foreign key."""
    from mhdb_tables2turtles_spark.plans.runner import build_workbook
    from mhdb_tables2turtles_spark.plans.sheetspec import ForeignKey
    from mhdb_tables2turtles_spark.plans.states import STATES_SPECS

    want = sum(
        1
        + sum(getattr(em, "split", False) for em in spec.emitters)
        + 2 * sum(isinstance(em, ForeignKey) for em in spec.emitters)
        for spec in STATES_SPECS
    )
    assert want == 9
    plan = build_workbook(spark, "states")._jdf.queryExecution().optimizedPlan()
    assert plan.collectLeaves().size() == want
