"""Declarative table -> triples compiler.

The reference implements ~45 near-identical row loops across 6 ingest
functions (~3,900 LoC, /root/reference/mhdb/ingest.py): per row, mint a
subject IRI, emit a type triple + label, conditionally emit literal
predicates, and resolve scalar/comma-separated FK columns against sibling
dimension sheets.  All of that is one operator schema; here it is a single
generic compiler over a declarative :class:`SheetSpec`.

Dataflow per sheet (all built-in DataFrame ops; Python only in the
label/IRI pandas UDFs):

    scan -> filter(required subject) -> mint __subject
      +-> one emit_rows pass: type, label, Constant, CodeMap, non-split
      |   Literal/IriRef and every absent-cell default, as
      |   inline(array(when(cond, struct(s, p, o, rank)), ...))
      +-> per split emitter: explode(split(cell, ',')) -> emit_rows
      +-> per FK emitter: explode(fk elements) -> broadcast equi-join
      |   -> emit_rows
      -> unionByName -> (caller) dedup_triples

A sheet therefore scans its table 1 + (split emitters) + (FK emitters)
times, plus one scan of each FK's dimension.

Every dimension sheet is tiny relative to the fact table, so FK joins are
``broadcast()`` -- no shuffle.  The reference instead re-scans the
dimension with a boolean mask per (row x FK element)
(ingest.py:3192-3193 pattern): accidental O(rows*fks*dim).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mhdb_tables2turtles_spark.functions import udfs
from mhdb_tables2turtles_spark.operators.triples import (
    emit_rows,
    exclude_filter,
    present,
    union_triples,
)

ROW_ID = "row_id"  # stable source-row ordinal; fixtures must carry it


@dataclass(frozen=True)
class Literal:
    """Conditionally-emitted typed/language literal (reference pattern:
    ingest.py:3428-3456).  ``split=True`` comma-splits the cell into one
    literal per element (the reference's aliases pattern,
    ingest.py:1373-1377: each alias becomes its own ``rdfs:label``;
    ``return_string`` strips each, so trim-on-split is faithful)."""

    column: str
    predicate: str
    kind: str = "lang"  # lang|anyURI|gyear|int|string|decimal|nonNegativeInteger
    lang: str = "en"
    split: bool = False
    # reference sometimes formats int(cell) (e.g. '"{0}"^^xsd:nonNegativeInteger'
    # .format(int(PubMedID)), ingest.py:1030) and sometimes the raw cell text
    int_cast: bool = False


@dataclass(frozen=True)
class IriRef:
    """IRI-valued cell emitted raw (owl:sameAs), comma-split raw
    (rdfs:equivalentClass), or re-minted (rdfs:subClassOf)
    (reference pattern: ingest.py:3091-3106).  ``default`` emits that
    constant object when the cell is empty (the reference's
    ``else: predicates_list.append(("rdfs:subClassOf", ":DisorderSeverity"))``
    fallback, ingest.py:551-552)."""

    column: str
    predicate: str
    split: bool = False
    raw: bool = True
    style: str = "delimited"
    default: str | None = None


@dataclass(frozen=True)
class Constant:
    """Unconditional constant triple per (kept) row — the reference's
    ``predicates_list.append(("rdfs:subClassOf", ":DomainType"))`` pattern
    (ingest.py:238)."""

    predicate: str
    object: str


@dataclass(frozen=True)
class CodeMap:
    """Int-coded cell -> constant object (F8; reference pattern
    ``if np.int(index_gender) == 1: ... ":Female"``, ingest.py:427-433).
    ``mapping`` is a tuple of (code, object) pairs; unmapped present codes
    fall back to ``default`` (or emit nothing when None)."""

    column: str
    predicate: str
    mapping: tuple = ()
    default: str | None = None


@dataclass(frozen=True)
class ForeignKey:
    """Scalar-or-comma-separated int FK resolved against a dimension sheet,
    one triple per element (reference pattern: ingest.py:3183-3196).

    Extensions for the non-chills workbooks:

    * ``default`` — constant object when the FK cell is empty (the
      treatments/medications/sensors ``else: rdfs:subClassOf :Treatment``
      fallback, ingest.py:1369-1370).
    * ``reverse`` — emit (resolved_dim_iri, predicate, row_subject)
      instead: the task_implementations pattern where the *dimension* row
      becomes the subject (``:<Task> :hasTaskImplementation <impl>``,
      ingest.py:2409-2414).
    * ``obj_prefix`` — string prepended to the minted object IRI (the
      ``"mhdb-resources" + check_iri(project)`` cross-workbook qualifier,
      ingest.py:2419-2420).
    * ``pred_code_column``/``pred_map``/``pred_default`` — dispatch the
      predicate on another int-coded column (sign_or_symptom_number ->
      :isMedicalSignOf / :isMedicalSymptomOf / fallback,
      ingest.py:448-456)."""

    column: str
    dim: str
    dim_value: str
    predicate: str
    style: str = "PascalCase"
    truncate: int | None = None
    default: str | None = None
    reverse: bool = False
    obj_prefix: str | None = None
    pred_code_column: str | None = None
    pred_map: tuple = ()
    pred_default: str | None = None


@dataclass(frozen=True)
class SheetSpec:
    table: str
    subject_column: str
    subject_style: str = "PascalCase"
    subject_truncate: int | None = None
    rdf_type: str | None = None
    type_predicate: str = "a"  # states uses rdfs:subClassOf constants
    label_predicate: str | None = "rdfs:label"
    label_column: str | None = None  # defaults to subject_column
    emitters: Sequence = field(default_factory=tuple)


def _literal_expr(lit: Literal, col: F.Column) -> F.Column:
    if lit.kind == "lang":
        return udfs.lang_literal(col, lit.lang)
    if lit.kind == "anyURI":
        return F.format_string('"%s"^^xsd:anyURI', F.trim(col))
    if lit.kind == "gyear":
        return F.format_string('"%s"^^xsd:gyear', col.cast("double").cast("long"))
    if lit.kind in ("int", "nonNegativeInteger", "decimal"):
        val = col.cast("double").cast("long") if lit.int_cast else col
        return F.format_string(f'"%s"^^xsd:{lit.kind}', val.cast("string"))
    if lit.kind == "string":
        return F.format_string('"%s"^^xsd:string', col)
    raise ValueError(f"unknown literal kind: {lit.kind!r}")


def _object(em: Literal | IriRef, col: F.Column) -> F.Column:
    """The object a Literal/IriRef cell (or split element) emits."""
    if isinstance(em, Literal):
        return _literal_expr(em, col)
    return col if em.raw else udfs.iri(col, em.style)


def _code(col: F.Column) -> F.Column:
    """Int code of a present cell; null (never a failed cast) otherwise."""
    return present(col).cast("double").cast("long")


def _fk_elements(col: F.Column) -> F.Column:
    """csv-int cell -> array<long> (reference parses with
    ``[np.int(x) for x in s.strip().split(',')]``, ingest.py:203-204)."""
    return F.transform(
        F.filter(
            # NB: the unary lambda matters -- F.transform(arr, F.trim)
            # would bind the element *index* as trim's trimStr argument
            F.transform(F.split(col.cast("string"), ","), lambda x: F.trim(x)),
            lambda x: F.length(x) > 0,
        ),
        lambda x: x.cast("double").cast("long"),
    )


def _split_pass(
    base: DataFrame, em: Literal | IriRef, rank: int, sheet_rank: int
) -> DataFrame:
    """One triple per non-empty comma-separated element of the cell."""
    elems = base.select(
        "__subject", ROW_ID, F.explode(F.split(F.col(em.column), ",")).alias("__e")
    )
    elem = present(F.trim(F.col("__e")))
    return emit_rows(
        elems, sheet_rank, [(rank, em.predicate, _object(em, elem), elem.isNotNull())]
    )


def _fk_pass(
    tables: Mapping[str, DataFrame], base: DataFrame, em: ForeignKey,
    rank: int, sheet_rank: int,
) -> DataFrame:
    """One triple per FK element that resolves to a present dimension
    value (broadcast equi-join)."""
    fact_cols = ["__subject", ROW_ID]
    if em.pred_code_column:
        fact_cols.append(em.pred_code_column)
    fact = base.filter(exclude_filter(F.col(em.column))).select(
        *fact_cols, F.explode(_fk_elements(F.col(em.column))).alias("__fk")
    )
    dim = tables[em.dim].select(
        F.col("index").cast("long").alias("__idx"),
        F.col(em.dim_value).alias("__val"),
    )
    joined = fact.join(F.broadcast(dim), fact["__fk"] == dim["__idx"], "inner")
    val = present(F.col("__val"))
    if em.truncate:
        val = F.substring(val, 1, em.truncate)
    obj = udfs.iri(val, em.style)
    if em.obj_prefix:
        obj = F.concat(F.lit(em.obj_prefix), obj)
    pred = em.predicate
    if em.pred_code_column:
        code = _code(F.col(em.pred_code_column))
        pred = F.lit(em.pred_default or em.predicate)
        for c, p in reversed(tuple(em.pred_map)):
            pred = F.when(code == c, F.lit(p)).otherwise(pred)
    when = val.isNotNull()
    if em.reverse:
        row = (rank, pred, F.col("__subject"), when, obj)
    else:
        row = (rank, pred, obj, when)
    return emit_rows(joined, sheet_rank, [row])


def sheet_triples(
    tables: Mapping[str, DataFrame], spec: SheetSpec, sheet_rank: int
) -> DataFrame:
    """Compile one :class:`SheetSpec` into a triple DataFrame with order
    columns ``(sheet_rank, row_id, pred_rank)``."""
    df = tables[spec.table]
    if ROW_ID not in df.columns:
        raise ValueError(
            f"table {spec.table!r} lacks a stable {ROW_ID!r} column"
        )

    subj = F.trim(F.col(spec.subject_column))
    if spec.subject_truncate:
        subj = F.substring(subj, 1, spec.subject_truncate)
    base = df.filter(exclude_filter(F.col(spec.subject_column))).withColumn(
        "__subject", udfs.iri(subj, spec.subject_style)
    )

    always = F.lit(True)
    rows = []  # row-local emitters: one emit_rows pass over base
    passes = []  # split and FK emitters: one pass each
    rank = 0
    if spec.rdf_type:
        rows.append((rank, spec.type_predicate, F.lit(spec.rdf_type), always))
        rank += 1
    if spec.label_predicate:
        label_src = F.trim(F.col(spec.label_column or spec.subject_column))
        if spec.subject_truncate and not spec.label_column:
            label_src = F.substring(label_src, 1, spec.subject_truncate)
        rows.append(
            (rank, spec.label_predicate, udfs.lang_literal(label_src), always)
        )
        rank += 1

    for em in spec.emitters:
        if isinstance(em, Constant):
            rows.append((rank, em.predicate, F.lit(em.object), always))
        elif isinstance(em, CodeMap):
            # `default` is for present, unmapped codes -- not absent cells
            cell = F.col(em.column)
            obj = F.lit(em.default)
            for c, o in reversed(tuple(em.mapping)):
                obj = F.when(_code(cell) == c, F.lit(o)).otherwise(obj)
            rows.append(
                (rank, em.predicate, obj, exclude_filter(cell) & obj.isNotNull())
            )
        elif isinstance(em, (Literal, IriRef, ForeignKey)):
            cell = F.col(em.column)
            if not isinstance(em, Literal) and em.default is not None:
                # the absent-cell default
                rows.append(
                    (rank, em.predicate, F.lit(em.default), ~exclude_filter(cell))
                )
            if isinstance(em, ForeignKey):
                passes.append(_fk_pass(tables, base, em, rank, sheet_rank))
            elif em.split:
                passes.append(_split_pass(base, em, rank, sheet_rank))
            else:
                obj = _object(em, present(cell))
                rows.append((rank, em.predicate, obj, exclude_filter(cell)))
        else:
            raise TypeError(f"unknown emitter: {em!r}")
        rank += 1

    if rows:
        passes.insert(0, emit_rows(base, sheet_rank, rows))
    return union_triples(passes)


def workbook_triples(
    tables: Mapping[str, DataFrame], specs: Sequence[SheetSpec]
) -> DataFrame:
    """All sheets of a workbook -> one (not yet deduped) triple stream."""
    return union_triples(
        sheet_triples(tables, spec, i) for i, spec in enumerate(specs)
    )
