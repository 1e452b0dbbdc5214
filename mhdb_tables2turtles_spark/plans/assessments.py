"""Plan for the reference's assessments workbook
(``ingest_assessments``, /root/reference/mhdb/ingest.py:1834-2703).

The questions sheet is the W1+W2 composition the reference builds
imperatively (ingest.py:2124-2309):

* **W1** — per-questionnaire running counter: question IRIs are minted as
  ``{questionnaire}_Q{qnum}`` where qnum resets at each new questionnaire
  (ingest.py:2126-2140).  Spark-side this is ``row_number() over
  (partition by questionnaire order by row_id)`` — identical when the
  sheet lists each questionnaire's questions contiguously (the reference
  state machine would *re-increment across interleaved questionnaires*,
  minting duplicate IRIs; we treat grouped input as the contract).
* **W2** — response options parse into a positional ``rdf:Seq``:
  ``0=Never, 1=Sometimes, 2="Often, very often"`` splits on commas, or on
  the ``N="..."`` regex when quotes are present, and each option emits
  ``rdf:_{i}`` membership plus an option-text literal
  (ingest.py:2199-2239).  Spark-side: ``regexp_extract_all`` / ``split``
  + ``posexplode`` — row-local, no shuffle.

task_assertions resolution reuses the Cognitive-Atlas J4/J5 operators
(:mod:`plans.cogatlas` — the reference block ingest.py:2525-2648 is the
same code as its CSV variant).

Reference dead code deliberately not reproduced (documented):

* ``index_license`` (ingest.py:2112) dereferences undefined names
  (``shared``/``licenses`` — NameError whenever set; the assessments
  ingest never parses a licenses sheet, so there is no intent to recover)
  — omitted;
* the response_types loop appends ``definition``/``equivalentClasses`` to
  a stale ``predicates_list`` left over from the questions loop and never
  emits it (ingest.py:2332-2344) — only its two direct
  ``add_to_statements`` calls (subClassOf + label) are live;
* ASSERTS assertions reuse the previous loop iteration's predicate (the
  stale-``predicate_iri`` bug, see :mod:`plans.cogatlas`) — we emit the
  evident intent ``:assertsCognitiveAtlasConcept`` (oracle-checked by
  ``j5_reln_dispatch``).
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mhdb_tables2turtles_spark.functions import udfs
from mhdb_tables2turtles_spark.operators.triples import (
    emit_rows,
    exclude_filter,
    present,
    union_triples,
)
from mhdb_tables2turtles_spark.plans.cogatlas import assertion_triples
from mhdb_tables2turtles_spark.plans.common import classes_spec, properties_spec
from mhdb_tables2turtles_spark.plans.sheetspec import (
    ForeignKey,
    Literal,
    SheetSpec,
    _fk_elements,
    sheet_triples,
)

__all__ = ["ASSESSMENTS_SPECS", "question_triples", "assessments_triples"]

# fmt: off
ASSESSMENTS_SPECS = (
    classes_spec(),
    properties_spec(),
    # questionnaires worksheet, ingest.py:1967-2122
    SheetSpec(
        table="questionnaires", subject_column="title", subject_style="delimited",
        rdf_type=":Questionnaire",
        emitters=(
            Literal("title", ":hasTitle"),
            Literal("abbreviation", ":hasAbbreviation"),
            Literal("description", "rdfs:comment"),
            Literal("link", ":hasWebsite", "anyURI"),
            Literal("authors", ":hasAuthorList"),
            Literal("year", ":hasPublicationYear", "gyear"),
            ForeignKey("use_with_assessments", "questionnaires", "title", ":useWith", style="delimited"),
            Literal("number_of_questions", ":hasNumberOfQuestions", "nonNegativeInteger"),
            Literal("minutes_to_complete", ":takesMinutesToComplete", "decimal"),
            Literal("age_min", "schema:requiredMinAge", "decimal"),
            Literal("age_max", "schema:requiredMaxAge", "decimal"),
        ),
    ),
    # response_types worksheet, ingest.py:2311-2344 (live surface only)
    SheetSpec(
        table="response_types", subject_column="response_type",
        rdf_type=":ResponseType", type_predicate="rdfs:subClassOf",
    ),
    # tasks worksheet, ingest.py:2346-2379
    SheetSpec(
        table="tasks", subject_column="name",
        rdf_type=":Task", type_predicate="rdfs:subClassOf",
        emitters=(
            Literal("description", "rdfs:comment"),
            Literal("aliases", "rdfs:label", split=True),
        ),
    ),
    # task_implementations worksheet, ingest.py:2381-2436: reversed task
    # FK (the TASK becomes the subject) + cross-workbook project FK whose
    # object IRI is qualified with the source-document prefix
    SheetSpec(
        table="task_implementations", subject_column="implementation",
        subject_style="delimited", rdf_type=":TaskImplementation",
        emitters=(
            Literal("description", "rdfs:comment"),
            Literal("link", ":hasWebsite", "anyURI"),
            ForeignKey("indices_task", "tasks", "name", ":hasTaskImplementation", reverse=True),
            ForeignKey("indices_project", "projects", "project", ":hasProject",
                       style="delimited", obj_prefix="mhdb-resources"),
        ),
    ),
    # task_conditions / task_contrasts / task_indicators, ingest.py:2438-2523
    SheetSpec(
        table="task_conditions", subject_column="condition",
        subject_style="delimited", rdf_type=":TaskCondition",
        emitters=(Literal("description", "rdfs:comment"),),
    ),
    SheetSpec(
        table="task_contrasts", subject_column="contrast",
        subject_style="delimited", rdf_type=":TaskContrast",
    ),
    SheetSpec(
        table="task_indicators", subject_column="indicator",
        subject_style="delimited", rdf_type=":TaskIndicator",
    ),
    # references worksheet, ingest.py:2650-2703 (pubdate variant)
    SheetSpec(
        table="references", subject_column="title", subject_style="delimited",
        rdf_type=":BibliographicResource",
        emitters=(
            Literal("title", ":hasTitle"),
            Literal("link", ":hasWebsite", "anyURI"),
            Literal("entry_date", ":hasDateLastUpdated"),
            Literal("authors", ":hasAuthorList"),
            Literal("pubdate", ":hasPublicationDate"),
            Literal("PubMedID", ":hasPubMedID", "nonNegativeInteger", int_cast=True),
        ),
    ),
)
# fmt: on

# the N="..." option tokenizer (ingest.py:2204-2205)
_QUOTED_OPT = r'[-+]?[0-9]+=".*?"'


def question_triples(
    tables: Mapping[str, DataFrame], sheet_rank: int
) -> DataFrame:
    """questions worksheet: W1 numbering + instructions side entities +
    W2 response-option rdf:Seq + response-type FK (ingest.py:2124-2309)."""
    qn = tables["questionnaires"].select(
        F.col("index").cast("long").alias("__qidx"),
        F.trim(F.col("title")).alias("__qtitle"),
    )
    q = (
        tables["questions"]
        .withColumn("question", F.trim(F.col("question")))
        .filter(exclude_filter(F.col("question")))
        .join(
            F.broadcast(qn),
            F.col("index_questionnaire").cast("long") == F.col("__qidx"),
            "inner",
        )
    )
    # W1: per-questionnaire running counter in sheet order
    w = Window.partitionBy("__qtitle").orderBy("row_id")
    q = q.withColumn("__qnum", F.row_number().over(w))
    q = q.withColumn(
        "__subject",
        udfs.iri(
            F.format_string("%s_Q%s", F.col("__qtitle"), F.col("__qnum")),
            "delimited",
        ),
    )
    # instruction cells are stripped before every presence/equality check
    for c in ("paper_instructions_preamble", "paper_instructions",
              "digital_instructions_preamble", "digital_instructions"):
        q = q.withColumn(c, present(F.trim(F.col(c))))
    # W2 input: the response-option cell, edge dashes and newlines
    # stripped, and the rdf:Seq IRI minted from it
    q = q.withColumn(
        "__ro",
        F.regexp_replace(
            F.regexp_replace(present(F.col("response_options")), r"^-+|-+$", ""),
            r"\n", "",
        ),
    ).withColumn("__ro_iri", udfs.iri(F.col("__ro"), "delimited"))
    q = q.localCheckpoint(eager=False)  # read by the three passes below

    qlabel = udfs.lang_literal(F.col("question"))
    always = F.lit(True)
    rows = [
        (0, "a", F.lit(":Question"), always),
        (1, "rdfs:label", qlabel, always),
        (2, ":hasQuestionText", qlabel, always),
        (3, ":isReferencedBy", udfs.iri(F.col("__qtitle"), "delimited"), always),
    ]

    # instructions: digital unconditional; paper only when different
    # (ingest.py:2153-2196).  NB the reference emits :hasInstructions as a
    # *literal* but :hasPaperInstructions as an IRI — faithful here.
    dip = F.col("digital_instructions_preamble")
    di = F.col("digital_instructions")
    pip = F.col("paper_instructions_preamble")
    pi = F.col("paper_instructions")
    dip_iri = udfs.iri(dip, "delimited")
    di_lit = udfs.lang_literal(di)
    pip_iri = udfs.iri(pip, "delimited")
    pi_iri = udfs.iri(pi, "delimited")
    has_pip = pip.isNotNull() & (dip.isNull() | (pip != dip))
    has_pi = pi.isNotNull() & (di.isNull() | (pi != di))
    rows += [
        (4, ":hasInstructionsPreamble", dip_iri, dip.isNotNull()),
        (5, ":hasInstructionsPreambleText", udfs.lang_literal(dip),
         dip.isNotNull(), dip_iri),
        (6, ":hasInstructions", di_lit, di.isNotNull()),
        (7, ":hasInstructionsText", di_lit, di.isNotNull(),
         udfs.iri(di, "delimited")),
        (8, ":hasPaperInstructionsPreamble", pip_iri, has_pip),
        (9, ":hasPaperInstructionsPreambleText", udfs.lang_literal(pip),
         has_pip, pip_iri),
        (10, ":hasPaperInstructions", pi_iri, has_pi),
        (11, ":hasPaperInstructionsText", udfs.lang_literal(pi), has_pi, pi_iri),
    ]

    # W2: response options -> rdf:Seq (ingest.py:2199-2239)
    ro = F.col("__ro")
    ro_iri = F.col("__ro_iri")
    rows += [
        (12, ":hasResponseOptions", ro_iri, ro.isNotNull()),
        (13, "a", F.lit("rdf:Seq"), ro.isNotNull(), ro_iri),
    ]
    opts = q.select(
        "row_id",
        "__ro_iri",
        F.posexplode(
            F.when(
                ro.contains('"'), F.regexp_extract_all(ro, F.lit(_QUOTED_OPT), 0)
            ).otherwise(F.split(ro, ","))
        ).alias("__pos", "__opt"),
    ).withColumn("__resp", present(F.trim(F.split("__opt", "=").getItem(1))))
    resp = F.col("__resp")
    resp_iri = udfs.iri(resp, "delimited")
    opt_rows = [
        (14, ":hasResponseOptionText", udfs.lang_literal(resp),
         resp.isNotNull(), resp_iri),
        (15, F.format_string("rdf:_%s", F.col("__pos") + 1), resp_iri,
         resp.isNotNull(), ro_iri),
    ]

    # response-type FK (ingest.py:2241-2255): csv-int against the
    # response_types sheet, PascalCase objects, broadcast join
    rt_dim = tables["response_types"].select(
        F.col("index").cast("long").alias("__rtidx"),
        F.col("response_type").alias("__rtval"),
    )
    rt = (
        q.filter(exclude_filter(F.col("indices_response_type")))
        .select(
            "row_id",
            "__subject",
            F.explode(_fk_elements(F.col("indices_response_type"))).alias("__fk"),
        )
        .join(F.broadcast(rt_dim), F.col("__fk") == F.col("__rtidx"))
    )
    rtval = present(F.col("__rtval"))
    rt_rows = [
        (16, ":hasResponseType", udfs.iri(rtval, "PascalCase"), rtval.isNotNull()),
    ]

    return union_triples([
        emit_rows(q, sheet_rank, rows),
        emit_rows(opts, sheet_rank, opt_rows),
        emit_rows(rt, sheet_rank, rt_rows),
    ])


def _assertion_tables(tables: Mapping[str, DataFrame]) -> dict:
    """Workbook sheets -> the (node_id, value) tables + relationships the
    shared Cognitive-Atlas resolver consumes (ingest.py:2525-2648)."""
    out = {}
    for sheet, value_col in (
        ("tasks", "name"),
        ("task_implementations", "implementation"),
        ("task_indicators", "indicator"),
        ("task_conditions", "condition"),
        ("task_contrasts", "contrast"),
    ):
        name = sheet.replace("task_", "") if sheet != "tasks" else "tasks"
        out[name] = tables[sheet].select(
            F.col("cogatlas_node_id").cast("long").alias("node_id"),
            F.col(value_col).alias("value"),
        ).filter(
            F.col("node_id").isNotNull()
            & F.col("value").isNotNull()
            & (F.length(F.trim(F.col("value"))) > 0)
        )
    out["relationships"] = tables["task_assertions_indices"].select(
        F.col("cogatlas_reln_type").alias("reln_type"),
        F.col("cogatlas_startNode").cast("long").alias("startNode"),
        F.col("cogatlas_endNode").cast("long").alias("endNode"),
    ).filter(F.col("startNode").isNotNull() & F.col("endNode").isNotNull())
    return out


def assessments_triples(tables: Mapping[str, DataFrame]) -> DataFrame:
    """Whole workbook: SheetSpec sheets + questions chain + assertions."""
    simple = [
        sheet_triples(tables, spec, i) for i, spec in enumerate(ASSESSMENTS_SPECS)
    ]
    n = len(ASSESSMENTS_SPECS)
    q = question_triples(tables, n)
    asserts = assertion_triples(_assertion_tables(tables)).select(
        "subject", "predicate", "object",
        F.lit(n + 1).alias("sheet_rank"),
        F.lit(0).cast("long").alias("row_id"),
        F.lit(0).alias("pred_rank"),
    )
    return union_triples(simple + [q, asserts])
