"""Plan for the reference's disorders workbook
(``ingest_disorders``, /root/reference/mhdb/ingest.py:253-1039).

Twelve of the thirteen sheets are plain :class:`SheetSpec` declarations;
the ``disorders`` sheet itself is the compound-label operator (F7/F10):
each present attribute appends a display fragment to ``rdfs:label`` and
an IRI-seed fragment to the subject IRI, plus a side triple
(ingest.py:634-736).  Here that is broadcast FK resolution into columns,
one ``concat``/``when`` expression pair (:mod:`operators.compound`), and
one ``emit_rows`` pass for the side triples and category edges plus one
for the split ``equivalentClasses`` — all row-local after the tiny dim
joins.

Deliberate deviations from reference *bugs* (documented, not reproduced):

* the ``exclude_categories`` list (ingest.py:637,765-830) suppresses
  re-emission of category-chain edges once a (sub)category was seen; under
  set semantics this only matters when the category hierarchy is
  non-functional (one subcategory, two parents), where the reference
  silently drops edges depending on row order.  We emit the per-row chain
  edges distinctly — identical output for any consistent hierarchy.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mhdb_tables2turtles_spark.functions import udfs
from mhdb_tables2turtles_spark.operators.compound import (
    DISORDER_FRAGMENTS,
    compound_columns,
    fragment_rows,
)
from mhdb_tables2turtles_spark.operators.triples import (
    emit_rows,
    exclude_filter,
    present,
    union_triples,
)
from mhdb_tables2turtles_spark.plans.common import classes_spec, properties_spec
from mhdb_tables2turtles_spark.plans.sheetspec import (
    CodeMap,
    ForeignKey,
    IriRef,
    Literal,
    SheetSpec,
    sheet_triples,
)

__all__ = ["DISORDERS_SPECS", "disorder_rows_triples", "disorders_triples"]


def _simple_class_sheet(table: str, value_col: str, fallback: str,
                        with_definition: bool = False) -> SheetSpec:
    """severities / diagnostic_* / disorder_*categories shape
    (ingest.py:525-620, 851-990): label + [definition] + equivalentClasses
    + subClassOf with a constant fallback."""
    emitters = []
    if with_definition:
        emitters.append(Literal("definition", "rdfs:comment"))
    emitters += [
        IriRef("equivalentClasses", "rdfs:equivalentClass", split=True, raw=True),
        IriRef("subClassOf", "rdfs:subClassOf", raw=False, default=fallback),
    ]
    return SheetSpec(table=table, subject_column=value_col, emitters=tuple(emitters))


# fmt: off
DISORDERS_SPECS = (
    classes_spec(),
    properties_spec(),
    # sign_or_symptoms worksheet, ingest.py:407-489: predicate dispatched
    # on sign_or_symptom_number (1=sign, 2=symptom), code-mapped gender,
    # self-FK hierarchy, and a code-mapped constant superclass
    SheetSpec(
        table="sign_or_symptoms", subject_column="sign_or_symptom",
        emitters=(
            ForeignKey("index_reference", "references", "title", ":isReferencedBy", style="delimited"),
            CodeMap("index_gender", "schema:epidemiology", ((1, ":Female"), (2, ":Male"))),
            ForeignKey(
                "indices_disorder", "disorders", "disorder", ":isMedicalSignOrSymptomOf",
                pred_code_column="sign_or_symptom_number",
                pred_map=((1, ":isMedicalSignOf"), (2, ":isMedicalSymptomOf")),
                pred_default=":isMedicalSignOrSymptomOf",
            ),
            ForeignKey("indices_sign_or_symptom", "sign_or_symptoms", "sign_or_symptom", "rdfs:subClassOf"),
            CodeMap(
                "sign_or_symptom_number", "rdfs:subClassOf",
                ((1, ":MedicalSign"), (2, ":MedicalSymptom")),
                default=":MedicalSignOrSymptom",
            ),
        ),
    ),
    # examples_sign_or_symptoms worksheet, ingest.py:491-523
    SheetSpec(
        table="examples_sign_or_symptoms",
        subject_column="examples_sign_or_symptoms", subject_style="delimited",
        emitters=(
            ForeignKey("indices_sign_or_symptom", "sign_or_symptoms", "sign_or_symptom", ":isExampleOf"),
        ),
    ),
    _simple_class_sheet("severities", "severity", ":DisorderSeverity", with_definition=True),
    _simple_class_sheet("diagnostic_specifiers", "diagnostic_specifier", ":DiagnosticSpecifier"),
    _simple_class_sheet("diagnostic_criteria", "diagnostic_criterion", ":DiagnosticCriterion"),
    _simple_class_sheet("disorder_categories", "disorder_category", ":Disorder"),
    _simple_class_sheet("disorder_subcategories", "disorder_subcategory", ":Disorder"),
    _simple_class_sheet("disorder_subsubcategories", "disorder_subsubcategory", ":Disorder"),
    _simple_class_sheet("disorder_subsubsubcategories", "disorder_subsubsubcategory", ":Disorder"),
    # references worksheet, ingest.py:992-1039
    SheetSpec(
        table="references", subject_column="title", subject_style="delimited",
        rdf_type=":BibliographicResource",
        emitters=(
            Literal("title", ":hasTitle"),
            Literal("link", ":hasWebsite", "anyURI"),
            Literal("entry_date", ":hasDateLastUpdated"),
            Literal("authors", ":hasAuthorList"),
            Literal("year", ":hasPublicationYear", "gyear"),
            Literal("PubMedID", ":hasPubMedID", "nonNegativeInteger", int_cast=True),
        ),
    ),
)
# fmt: on

# disorders-sheet scalar FKs -> resolved column names consumed by
# DISORDER_FRAGMENTS (ingest.py:668-736)
_RESOLVE = (
    ("index_diagnostic_specifier", "diagnostic_specifiers", "diagnostic_specifier", "diagnostic_specifier"),
    ("index_diagnostic_inclusion_criterion", "diagnostic_criteria", "diagnostic_criterion", "inclusion_criterion"),
    ("index_diagnostic_inclusion_criterion2", "diagnostic_criteria", "diagnostic_criterion", "inclusion_criterion2"),
    ("index_diagnostic_exclusion_criterion", "diagnostic_criteria", "diagnostic_criterion", "exclusion_criterion"),
    ("index_diagnostic_exclusion_criterion2", "diagnostic_criteria", "diagnostic_criterion", "exclusion_criterion2"),
    ("index_severity", "severities", "severity", "severity"),
    ("index_disorder_category", "disorder_categories", "disorder_category", "category"),
    ("index_disorder_subcategory", "disorder_subcategories", "disorder_subcategory", "subcategory"),
    ("index_disorder_subsubcategory", "disorder_subsubcategories", "disorder_subsubcategory", "subsubcategory"),
    ("index_disorder_subsubsubcategory", "disorder_subsubsubcategories", "disorder_subsubsubcategory", "subsubsubcategory"),
)


def disorder_rows_triples(
    tables: Mapping[str, DataFrame], sheet_rank: int
) -> DataFrame:
    """The disorders fact sheet: compound subject + side triples + the
    category-hierarchy chain (ingest.py:634-849)."""
    d = tables["disorders"].filter(exclude_filter(F.col("disorder")))

    # broadcast-resolve every scalar FK into a value column (J1 x10; each
    # dim is ontology-sized)
    for fk_col, dim, dim_val, alias in _RESOLVE:
        dim_df = tables[dim].select(
            F.col("index").cast("long").alias(f"__i_{alias}"),
            F.col(dim_val).alias(alias),
        )
        d = d.join(
            F.broadcast(dim_df),
            F.col(fk_col).cast("double").cast("long") == F.col(f"__i_{alias}"),
            "left",
        ).drop(f"__i_{alias}")

    # normalize presence (null = absent) for the fragment expressions
    frag_cols = {fr.column for fr in DISORDER_FRAGMENTS}
    for c in frag_cols | {"category", "subcategory", "subsubcategory",
                          "subsubsubcategory", "equivalentClasses",
                          "subClassOf", "note"}:
        d = d.withColumn(c, present(F.col(c)))

    label, subject = compound_columns(F.col("disorder"), DISORDER_FRAGMENTS)
    d = d.withColumn("__label", label).withColumn("__subject", subject)

    # equivalentClasses (split raw) — ingest.py:641-658
    eq = d.select(
        "__subject", "row_id",
        F.explode(F.split("equivalentClasses", ",")).alias("__eq"),
    )
    eq_iri = present(F.trim(F.col("__eq")))
    parts = [
        emit_rows(eq, sheet_rank, [
            (0, "rdfs:equivalentClass", eq_iri, eq_iri.isNotNull()),
        ])
    ]

    # category-hierarchy subClassOf: deepest present level wins; fallback
    # :Disorder — ingest.py:739-831
    levels = ("category", "subcategory", "subsubcategory", "subsubsubcategory")
    has = {c: F.col(c).isNotNull() for c in levels}
    cat, sub, ssub, sssub = (udfs.iri(F.col(c), "PascalCase") for c in levels)
    deepest = (
        F.when(has["subsubsubcategory"], sssub)
        .when(has["subsubcategory"], ssub)
        .when(has["subcategory"], sub)
        .when(has["category"], cat)
        .otherwise(F.lit(":Disorder"))
    )
    rank = 3 + len(DISORDER_FRAGMENTS)
    always = F.lit(True)
    rows = [
        # subClassOf, note — ingest.py:641-658
        (1, "rdfs:subClassOf", udfs.iri(F.col("subClassOf"), "delimited"),
         F.col("subClassOf").isNotNull()),
        (2, ":hasNote", udfs.lang_literal(F.col("note")), F.col("note").isNotNull()),
        # fragment side triples, in reference append order — ingest.py:658-736
        *fragment_rows(3),
        (rank, "rdfs:subClassOf", deepest, always),
        # chain edges between category levels (subjects are the category IRIs)
        (rank + 1, "rdfs:subClassOf", ssub, has["subsubsubcategory"], sssub),
        (rank + 2, "rdfs:subClassOf", sub, has["subsubcategory"], ssub),
        (rank + 3, "rdfs:subClassOf", cat, has["subcategory"], sub),
        # compound display label — appended last (ingest.py:833-835)
        (rank + 4, "rdfs:label", udfs.lang_literal(F.col("__label")), always),
    ]
    parts.append(emit_rows(d, sheet_rank, rows))
    return union_triples(parts)


def disorders_triples(tables: Mapping[str, DataFrame]) -> DataFrame:
    """Whole workbook: SheetSpec sheets + the compound disorders sheet."""
    simple = [
        sheet_triples(tables, spec, i) for i, spec in enumerate(DISORDERS_SPECS)
    ]
    return union_triples(
        simple + [disorder_rows_triples(tables, len(DISORDERS_SPECS))]
    )
