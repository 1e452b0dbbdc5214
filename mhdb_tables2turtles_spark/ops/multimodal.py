"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The catalog's ``multimodal_*`` queries run the Spark side: a fake media
table built from the documents fixture (:func:`media_from_documents`),
a magic-byte sniff in pure column expressions (:func:`sniff_metadata`)
and the 1->N Arrow-batched ``mapInPandas`` shape of frame sampling
(:func:`sample_frames`).  No codec is decoded here; a real decoder
(PIL/ffmpeg) would slot into the same ``mapInPandas`` signature.

Scale notes: payloads stay ``binary`` end-to-end (no base64 round trips);
per-payload work is embarrassingly parallel (``mapInPandas``, no
shuffle); downstream joins key on ``media_id``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "MEDIA_SCHEMA",
    "media_from_documents",
    "sniff_metadata",
    "sample_frames",
]

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, declared_bytes long"
)

_MAGIC = {
    b"\x89PNG": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"RIFF": "audio/wav",
    b"\x1aE\xdf\xa3": "video/webm",
}


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table from the documents fixture: the
    utf-8 text bytes become the payload, with a per-row fake magic prefix
    so the sniffer has work to do."""
    kind_idx = F.pmod(F.col("doc_id"), F.lit(4))
    magics = list(_MAGIC)
    prefix = (
        F.when(kind_idx == 0, F.lit(magics[0]))
        .when(kind_idx == 1, F.lit(magics[1]))
        .when(kind_idx == 2, F.lit(magics[2]))
        .otherwise(F.lit(magics[3]))
    )
    prefix_len = (
        F.when(kind_idx == 0, F.lit(len(magics[0])))
        .when(kind_idx == 1, F.lit(len(magics[1])))
        .when(kind_idx == 2, F.lit(len(magics[2])))
        .otherwise(F.lit(len(magics[3])))
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(None).cast("string").alias("kind"),  # sniffed later
        F.concat(prefix, F.encode(F.col("text"), "utf-8")).alias("payload"),
        (F.length(F.col("text")) + prefix_len).cast("long").alias("declared_bytes"),
    )


def sniff_metadata(media: DataFrame) -> DataFrame:
    """(media_id, kind, n_bytes, payload_ok): magic-byte sniff + size
    check — pure column expressions, no Python."""
    payload = F.col("payload")
    kind = F.lit("application/octet-stream")
    for magic, mime in reversed(list(_MAGIC.items())):
        kind = F.when(
            F.startswith(payload, F.lit(magic)), F.lit(mime)
        ).otherwise(kind)
    return media.select(
        "media_id",
        kind.alias("kind"),
        F.octet_length(payload).alias("n_bytes"),
        (F.octet_length(payload) >= F.col("declared_bytes")).alias("payload_ok"),
    )


def sample_frames(media: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """Frame-sampling plumbing demo: one output row per sampled 'frame'
    offset (for video this would be a timestamped frame decode).  Shows
    the 1->N mapInPandas batch shape."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, offs, checks = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(p)
                for off in range(0, len(b), every_n_bytes):
                    ids.append(mid)
                    offs.append(off)
                    checks.append(sum(b[off : off + every_n_bytes]) % 256)
            yield pd.DataFrame(
                {"media_id": ids, "frame_offset": offs, "frame_checksum": checks}
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema="media_id long, frame_offset long, frame_checksum int"
    )
