"""F7: compound label construction (disorder display labels + IRI seeds).

The reference builds disorder labels incrementally inside its row loop
(/root/reference/mhdb/ingest.py:655-736): starting from the base disorder
name, each present attribute (ICD codes, diagnostic specifier, inclusion/
exclusion criteria, severity) appends

* a display fragment  — ``"; severity: Mild"`` — to ``rdfs:label``, and
* an IRI-seed fragment — ``" severity Mild"`` — to the string that
  ``convert_string_to_label`` collapses into the subject IRI,

plus a side triple (``:hasSeverity :Mild``).  Here the same semantics are
one declarative spec compiled to ``concat``/``when`` column expressions —
row-local, no UDF except the final IRI minting kernel.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from mhdb_tables2turtles_spark.functions import udfs

__all__ = ["Fragment", "compound_columns", "fragment_rows", "DISORDER_FRAGMENTS"]


@dataclass(frozen=True)
class Fragment:
    """One optional attribute folded into the compound label.

    ``column`` holds the already-resolved attribute value (the FK join is
    the generic J1 operator); ``label_fmt``/``iri_fmt`` use ``%s`` for the
    value; ``predicate`` (optional) also emits a side triple whose object
    is the value minted with ``style`` — or a raw prefixed code when
    ``raw_prefix`` is set (the reference's ``"ICD9CM:" + code``).
    """

    column: str
    label_fmt: str
    iri_fmt: str
    predicate: str | None = None
    style: str = "PascalCase"
    raw_prefix: str | None = None


# the live disorder spec, in the reference's append order
# (ingest.py:658-736)
DISORDER_FRAGMENTS: tuple[Fragment, ...] = (
    Fragment("ICD9CM", "; ICD9CM:%s", " ICD9 %s", ":hasICD9Code", raw_prefix="ICD9CM:"),
    Fragment("ICD10CM", "; ICD10CM:%s", " ICD10 %s", ":hasICD10Code", raw_prefix="ICD10CM:"),
    Fragment("diagnostic_specifier", "; specifier: %s", " specifier %s", ":hasDiagnosticSpecifier"),
    Fragment("inclusion_criterion", "; inclusion: %s", " inclusion %s", ":hasInclusionCriterion"),
    Fragment("inclusion_criterion2", ", %s", " %s", ":hasInclusionCriterion"),
    Fragment("exclusion_criterion", "; exclusion: %s", " exclusion %s", ":hasExclusionCriterion"),
    Fragment("exclusion_criterion2", ", %s", " %s", ":hasExclusionCriterion"),
    Fragment("severity", "; severity: %s", " severity %s", ":hasSeverity"),
)


def _piece(fmt: str, col: Column) -> Column:
    return F.when(col.isNotNull(), F.format_string(fmt, col)).otherwise(F.lit(""))


def compound_columns(
    base_label: Column, fragments: Sequence[Fragment] = DISORDER_FRAGMENTS
) -> tuple[Column, Column]:
    """-> (display_label, subject_iri) column pair."""
    label = base_label
    seed = base_label
    for fr in fragments:
        col = F.col(fr.column)
        label = F.concat(label, _piece(fr.label_fmt, col))
        seed = F.concat(seed, _piece(fr.iri_fmt, col))
    return label, udfs.iri(seed, "PascalCase")


def fragment_rows(
    first_rank: int, fragments: Sequence[Fragment] = DISORDER_FRAGMENTS
) -> list[tuple]:
    """:func:`operators.triples.emit_rows` tuples for the side triple of
    every present fragment with a predicate (fragment columns hold null
    when absent, as for :func:`compound_columns`); ranks count up from
    ``first_rank`` in fragment order."""
    rows = []
    for rank, fr in enumerate(fragments, first_rank):
        if not fr.predicate:
            continue
        col = F.col(fr.column)
        if fr.raw_prefix is not None:
            obj = F.concat(F.lit(fr.raw_prefix), col.cast("string"))
        else:
            obj = udfs.iri(col, fr.style)
        rows.append((rank, fr.predicate, obj, col.isNotNull()))
    return rows
