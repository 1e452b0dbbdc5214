"""Plan for the reference's resources workbook
(``ingest_resources``, /root/reference/mhdb/ingest.py:1041-1832).

Eleven of the thirteen sheets are :class:`SheetSpec` declarations; two
are custom:

* ``groups`` (ingest.py:1580-1642) — the composite-key subject (J7): a
  row about both a group and an organization mints its subject from
  ``group + "_" + organization`` and emits organization/member side
  triples;
* ``projects``' ``indices_group`` FK resolves against that same derived
  composite value (ingest.py:1538-1557) — expressed as a generic
  :class:`ForeignKey` over a *derived dimension* registered as
  ``__groups_dim``.

Deliberate deviation: ``guides``' ``index_license`` branch dereferences
an undefined name ``shared`` (ingest.py:1312 — NameError whenever a
license is set); the evident intent (licenses-sheet lookup) is
implemented instead.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mhdb_tables2turtles_spark.functions import udfs
from mhdb_tables2turtles_spark.operators.triples import (
    emit_rows,
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

__all__ = ["RESOURCES_SPECS", "groups_triples", "groups_composite_dim", "resources_triples"]


# fmt: off
RESOURCES_SPECS = (
    classes_spec(),
    properties_spec(),
    # guide_types worksheet, ingest.py:1186-1205
    SheetSpec(
        table="guide_types", subject_column="guide_type",
        emitters=(
            IriRef("subClassOf", "rdfs:subClassOf", raw=False, default=":ReferenceType"),
        ),
    ),
    # guides worksheet, ingest.py:1208-1343
    SheetSpec(
        table="guides", subject_column="title", subject_style="delimited",
        rdf_type=":BibliographicResource",
        emitters=(
            Literal("title", ":hasTitle"),
            Literal("link", ":hasWebsite", "anyURI"),
            Literal("entry_date", ":hasDateLastUpdated"),
            Literal("authors", ":hasAuthorList"),
            IriRef("publisher", ":hasPublisher", raw=False),
            Literal("pubdate", ":hasPublicationDate"),
            ForeignKey("indices_guide_type", "guide_types", "guide_type", ":hasReferenceType"),
            CodeMap("index_gender", ":isAbout", ((1, ":Female"), (2, ":Male"))),
            ForeignKey("indices_language", "languages", "language", ":hasLanguage"),
            ForeignKey("index_license", "licenses", "license", ":hasLicense"),
        ),
    ),
    # treatments worksheet, ingest.py:1346-1401
    SheetSpec(
        table="treatments", subject_column="treatment",
        emitters=(
            ForeignKey("indices_treatment", "treatments", "treatment", "rdfs:subClassOf", default=":Treatment"),
            Literal("aliases", "rdfs:label", split=True),
            Literal("definition", "rdfs:comment"),
            IriRef("equivalentClasses", "rdfs:equivalentClass", split=True, raw=True),
        ),
    ),
    # medications worksheet, ingest.py:1403-1450
    SheetSpec(
        table="medications", subject_column="medication",
        emitters=(
            ForeignKey("indices_medication", "medications", "medication", "rdfs:subClassOf", default=":Medication"),
            Literal("aliases", "rdfs:label", split=True),
            IriRef("equivalentClasses", "rdfs:equivalentClass", split=True, raw=True),
        ),
    ),
    # project_types worksheet, ingest.py:1452-1496
    SheetSpec(
        table="project_types", subject_column="project_type",
        emitters=(
            Literal("definition", "rdfs:comment"),
            Literal("aliases", "rdfs:label", split=True),
            IriRef("equivalentClasses", "rdfs:equivalentClass", split=True, raw=True),
            ForeignKey("indices_project_type", "project_types", "project_type", "rdfs:subClassOf", default=":ProjectCategory"),
        ),
    ),
    # projects worksheet, ingest.py:1499-1578 (indices_group resolves the
    # derived composite dim; see groups_composite_dim)
    SheetSpec(
        table="projects", subject_column="project", subject_style="delimited",
        rdf_type=":Project",
        emitters=(
            Literal("description", "rdfs:comment"),
            Literal("link", ":hasWebsite", "anyURI"),
            ForeignKey("indices_project_type", "project_types", "project_type", ":hasProjectCategory"),
            ForeignKey("indices_group", "__groups_dim", "group_org", ":isMaintainedByGroup", style="delimited"),
            ForeignKey("indices_reference", "references", "title", ":isReferencedBy", style="delimited"),
        ),
    ),
    # people worksheet, ingest.py:1644-1700
    SheetSpec(
        table="people", subject_column="person",
        emitters=(
            Literal("definition", "rdfs:comment"),
            Literal("aliases", "rdfs:label", split=True),
            IriRef("equivalentClasses", "rdfs:equivalentClass", split=True, raw=True),
            ForeignKey("indices_person", "people", "person", "rdfs:subClassOf", default=":PersonType"),
        ),
    ),
    # languages worksheet, ingest.py:1702-1740
    SheetSpec(
        table="languages", subject_column="language",
        emitters=(
            ForeignKey("indices_language", "languages", "language", "rdfs:subClassOf", default=":Language"),
            IriRef("equivalentClasses", "rdfs:equivalentClass", split=True, raw=True),
        ),
    ),
    # licenses worksheet, ingest.py:1742-1786
    SheetSpec(
        table="licenses", subject_column="license",
        emitters=(
            IriRef("equivalentClasses", "rdfs:equivalentClass", split=True, raw=True),
            ForeignKey("indices_license", "licenses", "license", "rdfs:subClassOf", default=":License"),
        ),
    ),
    # references worksheet, ingest.py:1788-1832 (year variant)
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


def groups_composite_dim(groups: DataFrame) -> DataFrame:
    """(index, group_org): the value ``projects.indices_group`` resolves
    to — group, organization, or ``group + "_" + organization``
    (ingest.py:1543-1553)."""
    g = present(F.col("group"))
    o = present(F.col("organization"))
    return groups.select(
        F.col("index"),
        F.when(g.isNotNull() & o.isNotNull(), F.concat(g, F.lit("_"), o))
        .when(g.isNotNull(), g)
        .otherwise(o)
        .alias("group_org"),
    )


def groups_triples(tables: Mapping[str, DataFrame], sheet_rank: int) -> DataFrame:
    """groups worksheet (ingest.py:1580-1642): composite-key subject.

    Subject = group IRI, organization IRI, or composite group_org IRI;
    per-row side triples declare the organization and member entities.
    """
    g = tables["groups"].select(
        "row_id",
        *[present(F.col(c)).alias(c) for c in ("group", "organization", "link",
                                               "abbreviation", "member")],
    )
    grp = F.col("group")
    org = F.col("organization")
    link = F.col("link")
    abbr = F.col("abbreviation")
    member = F.col("member")
    subject = F.when(
        grp.isNotNull() & org.isNotNull(),
        udfs.iri(F.concat(grp, F.lit("_"), org), "delimited"),
    ).when(grp.isNotNull(), udfs.iri(grp, "delimited")).otherwise(
        F.when(org.isNotNull(), udfs.iri(org, "delimited"))
    )
    g = g.withColumn("__subject", subject).filter(F.col("__subject").isNotNull())

    org_iri = udfs.iri(org, "delimited")
    member_iri = udfs.iri(member, "delimited")
    return emit_rows(g, sheet_rank, [
        # group typing/label attach to the (possibly composite) subject
        (0, "a", F.lit(":Group"), grp.isNotNull()),
        (1, "rdfs:label", udfs.lang_literal(grp), grp.isNotNull()),
        # organization entity declared under its own IRI
        (2, "a", F.lit(":Organization"), org.isNotNull(), org_iri),
        (3, "rdfs:label", udfs.lang_literal(org), org.isNotNull(), org_iri),
        (4, ":isGroupMemberOf", org_iri, grp.isNotNull() & org.isNotNull()),
        (5, ":hasWebsite", F.format_string('"%s"^^xsd:anyURI', F.trim(link)),
         link.isNotNull()),
        (6, ":hasAbbreviation", udfs.iri(abbr, "delimited"), abbr.isNotNull()),
        (7, "a", F.lit(":Person"), member.isNotNull(), member_iri),
        (8, ":hasName", udfs.lang_literal(member), member.isNotNull(), member_iri),
        (9, ":hasMember", member_iri, member.isNotNull()),
    ])


def resources_triples(tables: Mapping[str, DataFrame]) -> DataFrame:
    """Whole workbook: SheetSpec sheets + composite groups sheet."""
    tables = dict(tables)
    tables["__groups_dim"] = groups_composite_dim(tables["groups"])
    simple = [
        sheet_triples(tables, spec, i) for i, spec in enumerate(RESOURCES_SPECS)
    ]
    return union_triples(
        simple + [groups_triples(tables, len(RESOURCES_SPECS))]
    )
