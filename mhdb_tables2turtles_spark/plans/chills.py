"""SheetSpec for the reference's live pipeline (``ingest_chills``,
/root/reference/mhdb/ingest.py:3006-3996).

The 16-sheet chills workbook, declared as data.  Emitter order matches the
reference's per-row ``predicates_list`` append order so our deterministic
serializer groups predicates in the same first-emission order.
"""

from __future__ import annotations

from mhdb_tables2turtles_spark.plans.common import (
    classes_spec,
    properties_spec,
)
from mhdb_tables2turtles_spark.plans.sheetspec import (
    ForeignKey,
    Literal,
    SheetSpec,
)

# fmt: off
CHILLS_SPECS = (
    # ingest.py:3084-3148
    classes_spec(),
    properties_spec(),
    # papers fact sheet, ingest.py:3150-3465
    SheetSpec(
        table="Index", subject_column="Reseach study (research paper tilte)",
        rdf_type=":Paper",
        emitters=(
            ForeignKey("ArticleType", "ArticleType", "ArticleType", ":hasArticleType"),
            ForeignKey("ChillsPeople_index", "ChillsPeople", "Affiliate1", ":hasPrimaryResearcher"),
            ForeignKey("ChillsPeople_secondary_index", "ChillsPeople", "Affiliate1", ":hasSecondaryResearcher"),
            ForeignKey("StimulusCategory", "StimulusCategory", "StimulusCategory", ":hasStimulusCategory"),
            ForeignKey("unit_index", "unit", "unit", ":hasUnit"),
            ForeignKey("SubjectiveSensor_index", "SubjectiveSensor", "SubjectiveData", ":hasSubjectiveSensor"),
            ForeignKey("SubjectiveMeasure_index", "SubjectiveMeasure", "SubjectiveMeasure", ":hasSubjectiveMeasure"),
            ForeignKey("Inference_index", "Inference", "inference", ":hasInference"),
            ForeignKey("claims_index", "claims", "claims", ":hasClaim", truncate=50),
            ForeignKey("Brain areas", "BrainAreas", "BrainAreas", ":hasBrainArea"),
            ForeignKey("Definition of chills", "DefinitionOfChills_index", "DefinitionOfChills", ":hasDefinitionOfChills"),
            ForeignKey("sensor_index", "Sensors", "sensor", ":hasSensor"),
            ForeignKey("measure_index", "Measure", "measure", ":hasMeasure"),
            Literal("N subjects", ":hasNumberOfSubjects", "int"),
            Literal("Modulator", ":hasModulator"),
            Literal("URL", ":hasURL", "anyURI"),
            Literal("publication_year", ":hasPublicationYear", "gyear"),
            Literal("abstract", ":hasAbstract"),
            Literal("URL_stimulus", ":hasStimulusURL", "anyURI"),
        ),
    ),
    # dimension sheets, ingest.py:3467-3994
    SheetSpec(table="ArticleType", subject_column="ArticleType", rdf_type=":ArticleType"),
    SheetSpec(
        table="ChillsPeople", subject_column="Affiliate1", rdf_type=":Researcher",
        emitters=(
            Literal("Discipline", ":hasDiscipline"),
            Literal("Lab", ":hasLab"),
            Literal("Site", ":hasSite"),
            Literal("URL", ":hasURL", "anyURI"),
            Literal("Contact", ":hasContact", "string"),
        ),
    ),
    SheetSpec(table="StimulusCategory", subject_column="StimulusCategory", rdf_type=":StimulusCategory"),
    SheetSpec(table="unit", subject_column="unit", rdf_type=":Unit"),
    SheetSpec(table="SubjectiveSensor", subject_column="SubjectiveData", rdf_type=":SubjectiveSensor"),
    SheetSpec(table="SubjectiveMeasure", subject_column="SubjectiveMeasure", rdf_type=":SubjectiveMeasure"),
    SheetSpec(table="Inference", subject_column="inference", rdf_type=":Inference"),
    SheetSpec(
        table="claims", subject_column="claims", subject_truncate=50, rdf_type=":Claim",
        emitters=(Literal("claims", "rdfs:comment"),),
    ),
    SheetSpec(table="BrainAreas", subject_column="BrainAreas", rdf_type=":BrainArea"),
    SheetSpec(table="DefinitionOfChills_index", subject_column="DefinitionOfChills", rdf_type=":DefinitionOfChills"),
    SheetSpec(
        table="Sensors", subject_column="sensor", rdf_type=":Sensor",
        emitters=(
            ForeignKey("measure_index", "Measure", "measure", ":hasMeasure"),
            ForeignKey("related_sensor_index", "Sensors", "sensor", ":hasRelatedSensor"),
        ),
    ),
    SheetSpec(
        table="Measure", subject_column="measure", rdf_type=":Measure",
        emitters=(
            ForeignKey("related_measure_index", "Measure", "measure", ":hasRelatedMeasure"),
        ),
    ),
    SheetSpec(
        table="Stimulus", subject_column="URI", rdf_type=":Stimulus",
        emitters=(
            Literal("URL to stimulus", ":hasURL", "anyURI"),
            Literal("Subjective description of the stimulus", ":hasSubjectiveDescription"),
        ),
    ),
)
# fmt: on
