"""Distributed Turtle source: read ``.ttl`` documents — including this
engine's own sharded output (operators/serialize.py writes
``header.ttl`` + self-contained ``part-*`` body shards) and the
reference's emitted ontologies — back into a ``(subject, predicate,
object)`` triple DataFrame.

Closes the serialization loop: triples → Turtle shards → triples, with
the W3C-grammar parser (operators/validate.py::parse_turtle) as the
read kernel, so a read is also a strict validation.

Scale posture: Turtle is NOT line-splittable (statements span lines,
prefix directives scope the whole document), so the unit of parallelism
is the FILE — exactly why the sink shards its body into self-contained
``part-*`` files in the first place.  ``binaryFile`` scan → one
Arrow-batched ``mapInPandas`` parse per file; driver memory is O(prefix
table), executor memory O(largest shard).

Term convention: surface form, same as the triple tables and golden
oracles — prefixed names as written, literals with quotes/langtag/
datatype verbatim, ``a`` kept as ``a``.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession

__all__ = ["read_turtle", "read_turtle_dir"]

_TRIPLES_DDL = "subject string, predicate string, object string"


def _skolemize(term: str, file_tag: str) -> str:
    """Blank-node labels are DOCUMENT-scoped in Turtle (RDF 1.1 Turtle
    §6.3): ``_:b0`` in two files denotes two distinct nodes.  Unioning
    per-file parses verbatim would collapse them, so every blank-node
    label — parser-minted ``_:genN`` and source-labeled alike — is
    skolemized with a hash of its file path before the union."""
    if term.startswith("_:"):
        return f"_:f{file_tag}_{term[2:]}"
    return term


def _parse_files(prefixes: tuple[str, ...], scope: str = "file"):
    from mhdb_tables2turtles_spark.operators.validate import parse_turtle

    def gen(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            rows = []
            for path, blob in zip(pdf["path"], pdf["content"]):
                tag = hashlib.sha1(str(path).encode("utf-8")).hexdigest()[:12]
                if scope == "document":
                    # fragments of ONE logical document (the sink's
                    # header + part-* shards): source labels must
                    # cohere across files, so only the parser-MINTED
                    # anonymous labels are uniquified per fragment
                    triples = parse_turtle(
                        bytes(blob).decode("utf-8"),
                        extra_prefixes=prefixes,
                        bnode_prefix=f"f{tag}_",
                    )
                    for s, p, o in triples:
                        rows.append(
                            {"subject": s, "predicate": p, "object": o}
                        )
                else:
                    for s, p, o in parse_turtle(
                        bytes(blob).decode("utf-8"), extra_prefixes=prefixes
                    ):
                        rows.append(
                            {
                                "subject": _skolemize(s, tag),
                                "predicate": p,
                                "object": _skolemize(o, tag),
                            }
                        )
            yield pd.DataFrame(
                rows, columns=["subject", "predicate", "object"]
            )

    return gen


def read_turtle(
    spark: SparkSession,
    path: str,
    extra_prefixes: tuple[str, ...] = (),
    scope: str = "file",
) -> DataFrame:
    """Parse every Turtle file matched by ``path`` (a file, directory,
    or glob — ``binaryFile`` semantics) into one triple DataFrame.
    Each file must be a self-contained turtleDoc modulo
    ``extra_prefixes`` (prefixes declared elsewhere, e.g. a shared
    header).  Grammar violations fail the task loudly.

    ``scope`` sets blank-node label scope (RDF 1.1 Turtle §6.3):
    ``"file"`` (default) treats each file as an independent document —
    every label is skolemized per file, so ``_:x`` in two files stays
    two nodes; ``"document"`` treats the matched files as fragments of
    ONE document — source labels are kept verbatim (``_:x`` reunites
    across fragments) and only parser-minted anonymous labels are
    uniquified per fragment."""
    if scope not in ("file", "document"):
        raise ValueError(f"scope must be 'file' or 'document': {scope!r}")
    files = spark.read.format("binaryFile").load(path)
    return files.mapInPandas(
        _parse_files(tuple(extra_prefixes), scope), schema=_TRIPLES_DDL
    )


def read_turtle_dir(spark: SparkSession, ttl_dir: str) -> DataFrame:
    """Read a sharded sink directory (``header.ttl`` + ``part-*``):
    the header parses once on the driver (it is metadata-sized — PREFIX
    lines + the owl:Ontology block) and its declared prefixes carry
    into every shard's executor-side parse, mirroring
    ``validate_ttl_dir``'s isolation argument.  Header triples (the
    ontology declaration) are not part of the body graph and are not
    returned."""
    from mhdb_tables2turtles_spark.operators.validate import _Parser

    header = os.path.join(ttl_dir, "header.ttl")
    prefixes: tuple[str, ...] = ()
    if os.path.exists(header):
        with open(header, encoding="utf-8") as f:
            p = _Parser(f.read())
        p.parse()
        prefixes = tuple(sorted(p.prefixes))
    parts = os.path.join(ttl_dir, "part-*")
    if not _glob.glob(parts):
        raise FileNotFoundError(f"no part-* shards under {ttl_dir!r}")
    # the shards are fragments of ONE document (write_body_shards leaves
    # each subject block in its group-by partition, with no bnode-locality
    # guarantee), so a labeled node split across shards must reunite on
    # read
    return read_turtle(
        spark, parts, extra_prefixes=prefixes, scope="document"
    )
