"""The package's public surface is what the engine itself reaches.

Every name a package module lists in ``__all__`` must be referenced from
non-test code — the package, ``scripts/``, ``perfbench/``, ``bench.py``
or ``__spark_entry__.py`` — or appear in :data:`KEPT` with the reason it
stays.  References are read from the syntax tree (names, attributes and
imports), so a docstring that mentions a function does not count as a
caller.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "mhdb_tables2turtles_spark")
NON_TEST_ROOTS = (
    PACKAGE,
    os.path.join(REPO, "scripts"),
    os.path.join(REPO, "perfbench"),
    os.path.join(REPO, "bench.py"),
    os.path.join(REPO, "__spark_entry__.py"),
)

# Public names that only tests call, each with why it stays.
KEPT = {
    "minhash_bands": "the column reference the _np kernel is tested against",
    "simhash": "the column reference the _np kernel is tested against",
    "read_turtle_dir": "read half of write_body_shards; round-trip tests",
    "read_triple_store": "read half of write_triple_store; round-trip tests",
    "read_warc_pages": "the Common Crawl input reader",
    "read_page_stream": "streaming source for stream_kg_updates",
    "stream_kg_updates": "the streaming form of the graph: one "
    "KGPipeline.update per micro-batch",
    "alt": "sh:path combinator; shapes evaluate user paths via eval_path",
    "npred": "sh:path combinator; shapes evaluate user paths via eval_path",
    "plus": "sh:path combinator; shapes evaluate user paths via eval_path",
    "zero_or_more": "sh:path combinator; shapes evaluate user paths via "
    "eval_path",
}


def _py_files(root: str):
    if os.path.isfile(root):
        yield root
        return
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _exported() -> dict[str, str]:
    """name -> defining module path, from every module-level ``__all__``."""
    out = {}
    for path in _py_files(PACKAGE):
        for node in _parse(path).body:
            if (
                isinstance(node, ast.Assign)
                and any(
                    isinstance(t, ast.Name) and t.id == "__all__"
                    for t in node.targets
                )
                and isinstance(node.value, (ast.List, ast.Tuple))
            ):
                for elt in node.value.elts:
                    out[elt.value] = os.path.relpath(path, REPO)
    return out


def _referenced() -> set[str]:
    """Names used by non-test code.  An import inside a package
    ``__init__.py`` is a re-export, not a caller, so it does not count."""
    names: set[str] = set()
    for root in NON_TEST_ROOTS:
        for path in _py_files(root):
            reexports = os.path.basename(path) == "__init__.py"
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Name):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
                elif isinstance(node, ast.alias) and not reexports:
                    names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_every_public_name_has_a_caller_or_a_reason():
    referenced = _referenced()
    unexplained = {
        n: m
        for n, m in _exported().items()
        if n not in referenced and n not in KEPT
    }
    assert not unexplained, (
        "public names only tests reach; delete them or add a reason to KEPT: "
        f"{sorted(unexplained.items())}"
    )


def test_kept_names_are_still_exported_and_unreached():
    """A stale KEPT entry would silently widen the allowance."""
    exported = _exported()
    referenced = _referenced()
    assert not [n for n in KEPT if n not in exported], "KEPT names a removed export"
    assert not [n for n in KEPT if n in referenced], (
        "KEPT names an export that now has a caller; drop it from KEPT"
    )
