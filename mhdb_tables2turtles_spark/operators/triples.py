"""Canonical triple model.

The reference accumulates triples in a nested dict
``{subject: {predicate: set(objects)}}`` (add_to_statements,
/root/reference/mhdb/ingest.py:28-76).  Spark-side the graph is a plain
DataFrame with explicit ordering columns standing in for dict insertion
order (Spark has none):

    subject    string   Turtle token (":Label", "prefix:name", "<...>")
    predicate  string
    object     string   Turtle token or formatted literal
    sheet_rank int      which input table emitted it (stable spec order)
    row_id     long     source-row ordinal within the table
    pred_rank  int      emission order of the predicate within the row

Set-semantics dedup (the reference's ``set.add``) is
``dropDuplicates(subject, predicate, object)`` keeping the *first*
emission's order keys, so serialization order is deterministic and
reproducible (stronger than the reference, whose per-(s,p) object order is
Python-set hash order).
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TRIPLE_COLS = ["subject", "predicate", "object"]
ORDER_COLS = ["sheet_rank", "row_id", "pred_rank"]

# String forms treated as "no value" when they appear as cell content
# (reference exclude_list, ingest.py:24; real nulls are handled as nulls).
EXCLUDED_TOKENS = ["EmptyValue", "", "NaN", "NAN", "nan"]


def exclude_filter(col: F.Column) -> F.Column:
    """Predicate: value is present and not a null-ish sentinel token."""
    return col.isNotNull() & ~F.trim(col).isin(EXCLUDED_TOKENS)


def present(col: F.Column) -> F.Column:
    """``col`` where :func:`exclude_filter` holds, else null."""
    return F.when(exclude_filter(col), col)


def emit_rows(df: DataFrame, sheet_rank: int, rows: Sequence[tuple]) -> DataFrame:
    """Every triple a row of ``df`` emits, in one projection.

    ``rows`` holds ``(pred_rank, predicate, object, when[, subject])``
    tuples: each input row yields one triple per tuple whose ``when``
    holds.  ``predicate`` is a Column or a constant string; ``subject``
    defaults to the ``__subject`` column.  The tuples compile to
    ``inline(filter(array(when(when, struct(s, p, o, pred_rank)), ...),
    notnull))``, so ``df`` is scanned once however many predicates it
    emits.

    Spark evaluates the value of a ``CASE WHEN`` only where its condition
    holds, so a cast guarded by ``when`` never sees an absent cell (ANSI
    casts raise on sentinels like ``"EmptyValue"``).  Pandas UDFs are the
    exception: they run on every row of ``df``.
    """
    cells = []
    for pred_rank, predicate, obj, when, *subject in rows:
        pred = F.lit(predicate) if isinstance(predicate, str) else predicate
        subj = subject[0] if subject else F.col("__subject")
        triple = F.struct(
            subj.alias("subject"),
            pred.alias("predicate"),
            obj.alias("object"),
            F.lit(pred_rank).alias("pred_rank"),
        )
        cells.append(F.when(when, triple))
    return df.select(
        "row_id", F.inline(F.filter(F.array(*cells), lambda c: c.isNotNull()))
    ).select(
        *TRIPLE_COLS, F.lit(sheet_rank).alias("sheet_rank"), "row_id", "pred_rank"
    )


def union_triples(parts: Iterable[DataFrame]) -> DataFrame:
    """Union per-sheet triple streams (reference: one dict threaded through
    every sheet loop; here ``unionByName``)."""
    parts = list(parts)
    if not parts:
        raise ValueError("no triple parts to union")
    return reduce(lambda a, b: a.unionByName(b), parts)


def dedup_triples(triples: DataFrame) -> DataFrame:
    """Set-semantics dedup keeping first-emission order keys.

    A map-side partial aggregation (min over order keys) replaces the
    reference's driver-resident dict -- shuffles only distinct triples.
    """
    aggs = [F.min(c).alias(c) for c in ORDER_COLS if c in triples.columns]
    if not aggs:
        return triples.dropDuplicates(TRIPLE_COLS)
    return triples.groupBy(*TRIPLE_COLS).agg(*aggs)


def doi_triples(
    df: DataFrame, doi_col: str = "doi", title_col: str | None = None
) -> DataFrame:
    """DOI -> datacite identifier triples (reference F12 ``doi_iri``,
    unused_functions.py:752-808): per non-null DOI,

    * ``<https://dx.doi.org/{doi}>  datacite:usesIdentifierScheme  datacite:doi``
    * ``<https://dx.doi.org/{doi}>  datacite:hasIdentifier  \"\"\"{doi}\"\"\"^^rdfs:Literal``
    * with ``title_col``: ``rdfs:label  \"\"\"{title}\"\"\"@en``.

    Parity note: the reference function is dead AND broken — it calls
    ``add_if``/``language_string`` names that exist nowhere in the repo
    (NameError when invoked), and its committed doctest shows the DOI
    URL verbatim inside ``<...>``, which predates the current
    ``check_iri`` (write_ttl.py:249-254) that label-collapses any
    ``:/``-containing string.  This implementation matches the EXECUTED
    behavior of the reference with those two names shimmed to their
    evident intent (verified in tests: subject
    ``<httpsdxdoiorg...>`` via the same check_iri kernel), and records
    the stale-doctest conflict here.

    Row-local constant-width emission — no shuffle.
    """
    from mhdb_tables2turtles_spark.functions import udfs

    doi = F.col(doi_col)
    base = df.filter(exclude_filter(doi))
    subject = udfs.iri(F.concat(F.lit("https://dx.doi.org/"), F.trim(doi)))
    parts = [
        base.select(
            subject.alias("subject"),
            F.lit("datacite:usesIdentifierScheme").alias("predicate"),
            F.lit("datacite:doi").alias("object"),
        ),
        base.select(
            subject.alias("subject"),
            F.lit("datacite:hasIdentifier").alias("predicate"),
            F.format_string(
                '"""%s"""^^rdfs:Literal', F.trim(doi)
            ).alias("object"),
        ),
    ]
    if title_col is not None:
        parts.append(
            base.filter(exclude_filter(F.col(title_col))).select(
                subject.alias("subject"),
                F.lit("rdfs:label").alias("predicate"),
                udfs.lang_literal(F.col(title_col)).alias("object"),
            )
        )
    return union_triples(parts)


def filter_valid(triples: DataFrame) -> DataFrame:
    """Drop rows whose s/p/o is null-ish (reference add_to_statements
    exclude check, ingest.py:58-60)."""
    cond = reduce(
        lambda a, b: a & b, [exclude_filter(F.col(c)) for c in TRIPLE_COLS]
    )
    return triples.filter(cond)
