"""Arrow-batched pandas UDFs wrapping the string kernel.

One vectorized UDF per kernel function, shared engine-wide.  These are the
*only* places label/IRI identity leaves the JVM; everything else in the
engine is built-in ``pyspark.sql.functions`` (whole-stage codegen).

The reference applies the same functions once per row inside Python
``for``-loops (/root/reference/mhdb/ingest.py:3084-3996); here each call
processes an Arrow batch of ~10k values.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf

from mhdb_tables2turtles_spark.functions.strings import (
    format_iri,
    language_literal,
)


@lru_cache(maxsize=None)
def _iri_udf(style: str):
    @pandas_udf("string")
    def _f(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if v is None else format_iri(v, style))

    return _f


@lru_cache(maxsize=None)
def _lang_literal_udf(lang: str):
    @pandas_udf("string")
    def _f(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: None if v is None else language_literal(v, lang)
        )

    return _f


def iri(col: Column, style: str = "delimited") -> Column:
    """``format_iri`` over a column (vectorized)."""
    return _iri_udf(style)(col)


_IRI_STYLED = None


def iri_styled(col: Column, style_col: Column) -> Column:
    """``format_iri`` with a per-row style column (used by the assertion
    resolver, where the label style depends on which table resolved the
    node — /root/reference/mhdb/ingest.py:2534-2596)."""
    global _IRI_STYLED
    if _IRI_STYLED is None:

        @pandas_udf("string")
        def _f(s: pd.Series, st: pd.Series) -> pd.Series:
            return pd.Series(
                [
                    None if v is None else format_iri(v, sty or "delimited")
                    for v, sty in zip(s, st)
                ]
            )

        _IRI_STYLED = _f
    return _IRI_STYLED(col, style_col)


def lang_literal(col: Column, lang: str = "en") -> Column:
    """``language_literal`` over a column (vectorized)."""
    return _lang_literal_udf(lang)(col)
