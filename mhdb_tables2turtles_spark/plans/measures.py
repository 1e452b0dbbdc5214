"""SheetSpec plan for the reference's measures workbook
(``ingest_measures``, /root/reference/mhdb/ingest.py:2705-3004).

All three fact sheets share one shape: label + optional definition +
equivalentClasses + comma-split alias labels + a self-FK subClassOf with a
constant fallback; sensors additionally resolve ``indices_measure``
against the measures sheet (ingest.py:2871-2887).
"""

from __future__ import annotations

from mhdb_tables2turtles_spark.plans.common import classes_spec, properties_spec
from mhdb_tables2turtles_spark.plans.sheetspec import (
    ForeignKey,
    IriRef,
    Literal,
    SheetSpec,
)

# fmt: off
MEASURES_SPECS = (
    classes_spec(),
    properties_spec(),
    # sensors worksheet, ingest.py:2818-2890
    SheetSpec(
        table="sensors", subject_column="sensor",
        emitters=(
            Literal("definition", "rdfs:comment"),
            IriRef("equivalentClasses", "rdfs:equivalentClass", split=True, raw=True),
            Literal("aliases", "rdfs:label", split=True),
            ForeignKey("indices_sensor", "sensors", "sensor", "rdfs:subClassOf", default=":SensingDevice"),
            ForeignKey("indices_measure", "measures", "measure", ":measuresQuantityKind"),
        ),
    ),
    # measures worksheet, ingest.py:2893-2941
    SheetSpec(
        table="measures", subject_column="measure",
        emitters=(
            Literal("definition", "rdfs:comment"),
            IriRef("equivalentClasses", "rdfs:equivalentClass", split=True, raw=True),
            Literal("aliases", "rdfs:label", split=True),
            ForeignKey("indices_measure", "measures", "measure", "rdfs:subClassOf", default=":QuantityKind"),
        ),
    ),
    # scales worksheet, ingest.py:2944-3002
    SheetSpec(
        table="scales", subject_column="scale",
        emitters=(
            Literal("definition", "rdfs:comment"),
            IriRef("equivalentClasses", "rdfs:equivalentClass", split=True, raw=True),
            Literal("aliases", "rdfs:label", split=True),
            ForeignKey("indices_scale", "scales", "scale", "rdfs:subClassOf", default=":Scale"),
        ),
    ),
)
# fmt: on
