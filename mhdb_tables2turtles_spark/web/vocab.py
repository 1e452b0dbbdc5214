"""Vocabulary build: ontology entities -> surface-form dictionary.

The north rule scans web text with "an Aho-Corasick vocabulary trie built
from the mhdb disorder/symptom/assessment ontology sheets".  Our
executable-free stand-in for those sheets is the reference's own emitted
graph (/root/reference/output/chills.ttl): every subject with an
``rdfs:label`` becomes a linkable entity; its label (plus deterministic
alias variants, mirroring the reference's alias-splitting idiom at
/root/reference/mhdb/ingest.py:2841-2847) becomes a surface form.

Output is a small pandas frame (hundreds of rows) — it broadcasts.
"""

from __future__ import annotations

import re

import pandas as pd

from mhdb_tables2turtles_spark.sources.golden import load_golden_triples

__all__ = ["vocabulary_frame", "alias_variants", "entity_profiles"]

_LANG = re.compile(r'^"""(.*)"""@\w+$', re.S)

# subjects typed with these are schema machinery, not linkable entities
_SCHEMA_TYPES = {"rdf:Class", "rdf:Property"}


def _unlit(obj: str) -> str | None:
    m = _LANG.match(obj)
    return m.group(1) if m else None


def alias_variants(label: str) -> set[str]:
    """Deterministic surface variants of one label.

    lowercase; hyphen<->space flips; parenthetical stripped
    (``"stimulus onset asynchrony (SOA)"`` also yields the bare acronym,
    the reference's alias convention for bracketed short forms).
    """
    base = " ".join(label.lower().split())
    out = {base}
    out.add(base.replace("-", " "))
    stripped = re.sub(r"\s*\([^)]*\)", "", base).strip()
    if stripped:
        out.add(stripped)
    for m in re.finditer(r"\(([^)]+)\)", base):
        inner = m.group(1).strip()
        if inner:
            out.add(inner)
    return {v for v in out if len(v) >= 3}


def vocabulary_frame(ttl_path: str) -> pd.DataFrame:
    """(surface, entity_iri, entity_type, is_alias) — one row per surface
    form per entity.  Several entities may share a surface (ambiguity is
    resolved by the linking stage)."""
    triples = load_golden_triples(ttl_path)
    types: dict[str, set] = {}
    labels: dict[str, set] = {}
    for s, p, o in triples:
        if p == "a":
            types.setdefault(s, set()).add(o)
        elif p == "rdfs:label":
            lit = _unlit(o)
            if lit:
                labels.setdefault(s, set()).add(lit)

    rows = []
    for s, labs in sorted(labels.items()):
        ts = types.get(s, set())
        if not ts or ts <= _SCHEMA_TYPES:
            continue
        etype = sorted(t for t in ts if t not in _SCHEMA_TYPES)[0]
        canonical = sorted(labs)[0].lower()
        seen = set()
        for lab in sorted(labs):
            for surface in sorted(alias_variants(lab)):
                if surface in seen:
                    continue
                seen.add(surface)
                rows.append(
                    {
                        "surface": surface,
                        "entity_iri": s,
                        "entity_type": etype,
                        "is_alias": surface != canonical,
                    }
                )
    return pd.DataFrame(rows, columns=["surface", "entity_iri", "entity_type", "is_alias"])


def entity_profiles(ttl_path: str) -> pd.DataFrame:
    """(entity_iri, profile_text) — label + definition words, the
    entity-side document for TF-IDF candidate scoring (:mod:`linking`)."""
    triples = load_golden_triples(ttl_path)
    text: dict[str, list] = {}
    for s, p, o in sorted(triples):
        if p in ("rdfs:label", "rdfs:comment"):
            lit = _unlit(o)
            if lit:
                text.setdefault(s, []).append(lit)
    rows = [
        {"entity_iri": s, "profile_text": " ".join(parts).lower()}
        for s, parts in sorted(text.items())
    ]
    return pd.DataFrame(rows, columns=["entity_iri", "profile_text"])
