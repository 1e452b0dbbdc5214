"""SheetSpec plan for the reference's states workbook
(``ingest_states``, /root/reference/mhdb/ingest.py:79-251).

Reference bugs deliberately not reproduced (they make the original
function unrunnable, so the intent is implemented instead):

* the Classes/Properties loops iterate over undefined names
  ``states_classes``/``states_properties`` (ingest.py:125,159 — NameError;
  the parsed frames are ``state_classes``/``state_properties``): the
  evident intent is the standard Classes/Properties ingest, declared here
  via the shared specs;
* ``audience_statements`` (ingest.py:123) is called but defined nowhere in
  the package (NameError) — omitted.
"""

from __future__ import annotations

from mhdb_tables2turtles_spark.plans.common import classes_spec, properties_spec
from mhdb_tables2turtles_spark.plans.sheetspec import ForeignKey, SheetSpec

# fmt: off
STATES_SPECS = (
    classes_spec(),
    properties_spec(),
    # states worksheet, ingest.py:192-227: subClassOf-constant in place of a
    # type triple, then PascalCase FK resolution against state_types and a
    # self-FK category hierarchy (J6)
    SheetSpec(
        table="states", subject_column="state",
        rdf_type="m3-lite:DomainOfInterest", type_predicate="rdfs:subClassOf",
        emitters=(
            ForeignKey("indices_state_type", "state_types", "state_type", ":hasDomainType"),
            ForeignKey("indices_state_category", "states", "state", "rdfs:subClassOf"),
        ),
    ),
    # state_types worksheet, ingest.py:230-245
    SheetSpec(
        table="state_types", subject_column="state_type",
        rdf_type=":DomainType", type_predicate="rdfs:subClassOf",
    ),
)
# fmt: on
