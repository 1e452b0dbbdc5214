"""Corpus-curation verdict: compose every filter-family signal into ONE
keep/drop decision per document (the FineWeb/Gopher-style end artifact).

The composition is :func:`curation_verdict`, a pure DataFrame join
used inline by the oracle query ``queries_cleaning.q_corpus_curation``
(the DuckDB oracle check needs one self-contained plan).

Precedence (highest first): exact dup > near dup > benchmark-
contaminated > repetitive (> ``rep_bp`` duplicated-bigram basis points)
> low quality (< ``quality_floor``) > keep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["curation_verdict", "CUR_REP_BP", "CUR_QUALITY"]

# drop thresholds for the composed curation verdict
CUR_REP_BP = 2000     # > 20% duplicated bigram mass -> repetitive
CUR_QUALITY = 0.5     # composite quality floor


def curation_verdict(
    dedup: DataFrame,
    decon: DataFrame,
    repetition: DataFrame,
    quality: DataFrame,
    rep_bp: int = CUR_REP_BP,
    quality_floor: float = CUR_QUALITY,
) -> DataFrame:
    """One keep/drop verdict per document from the four signal tables.

    Inputs (by column): ``dedup(doc_id, reason)``,
    ``decon(doc_id, contaminated)``, ``repetition(doc_id,
    dup_bigram_bp)`` (may be missing docs — left join), ``quality(
    doc_id, quality)``.  Every join is on ``doc_id`` (uniform 8-byte
    key), so the composition adds no scale hazard beyond its inputs.
    """
    j = (
        dedup.select("doc_id", F.col("reason").alias("dd_reason"))
        .join(decon.select("doc_id", "contaminated"), "doc_id")
        .join(repetition.select("doc_id", "dup_bigram_bp"), "doc_id", "left")
        .join(quality.select("doc_id", "quality"), "doc_id")
    )
    reason = (
        F.when(F.col("dd_reason") != "keep", F.col("dd_reason"))
        .when(F.col("contaminated") == 1, "contaminated")
        .when(
            F.coalesce(F.col("dup_bigram_bp"), F.lit(0)) > rep_bp,
            "repetitive",
        )
        .when(F.col("quality") < quality_floor, "low_quality")
        .otherwise("keep")
    )
    return j.select(
        "doc_id", reason.alias("reason"), (reason == "keep").alias("keep")
    )
