"""Structured-Streaming surface: incremental KG ingestion.

The reference is pure batch (SURVEY.md §2.8) and the north rule's
"resumable" maps to staged batch commits — but a crawl is naturally a
stream of page batches, so this package feeds a file-source page stream
into the batch pipeline's incremental ``update``, one epoch per
micro-batch (:mod:`.ingest`).  The stream's checkpoint and the
pipeline's per-epoch commits together make a replayed micro-batch a
no-op.
"""
