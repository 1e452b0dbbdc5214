"""J4 priority resolution + J5 relation dispatch over Cognitive Atlas
node and relationship tables."""

from __future__ import annotations

from mhdb_tables2turtles_spark.plans.cogatlas import (
    RELN_PREDICATES,
    assertion_triples,
    resolve_nodes,
)


def _mini_tables(spark):
    def t(rows):
        return spark.createDataFrame(rows, ["node_id", "value"])

    return {
        "tasks": t([(1, "go/no-go task"), (3, "stroop task")]),
        "implementations": t([(1, "shadow impl"), (4, "stop-it")]),
        "indicators": t([(5, "reaction time")]),
        "conditions": t([(6, "congruent")]),
        "contrasts": t([(7, "stimulus onset asynchrony (SOA)")]),
        "relationships": spark.createDataFrame(
            [
                ("KINDOF", 1, 3),       # task -> task
                ("HASINDICATOR", 3, 5), # task -> indicator
                ("ASSERTS", 3, 6),      # task -> concept-ish
                ("HASCONTRAST", 3, 7),
                ("UNKNOWN", 1, 3),      # dropped
                ("KINDOF", 1, 1),       # self -> dropped
            ],
            ["reln_type", "startNode", "endNode"],
        ),
    }


def test_priority_resolution(spark):
    res = {r.node_id: (r.value, r.style) for r in resolve_nodes(_mini_tables(spark)).collect()}
    # node 1 exists in tasks AND implementations -> tasks wins (priority)
    assert res[1] == ("go/no-go task", "PascalCase")
    assert res[4] == ("stop-it", "delimited")
    assert res[5] == ("reaction time", "delimited")
    assert res[7][1] == "delimited"


def test_assertion_dispatch_and_asserts_extras(spark):
    triples = {
        (r.subject, r.predicate, r.object)
        for r in assertion_triples(_mini_tables(spark)).collect()
    }
    # KINDOF: both sides PascalCase (task style + object override)
    assert (":GoNo-GoTask", ":isKindOf", ":StroopTask") in triples
    # HASINDICATOR: subject task PascalCase, object forced delimited
    assert (":StroopTask", ":hasTaskIndicator", ":reaction_time") in triples
    # HASCONTRAST keeps delimited; parenthetical label collapses like the
    # reference kernel dictates
    assert (
        ":StroopTask",
        ":hasTaskContrast",
        ":stimulus_onset_asynchrony_SOA",
    ) in triples
    # ASSERTS emits the main triple with PascalCase object + 2 extras
    assert (":StroopTask", ":assertsCognitiveAtlasConcept", ":Congruent") in triples
    assert (":Congruent", "rdfs:subClassOf", ":CognitiveAtlasConcept") in triples
    assert (":Congruent", "rdfs:label", '"""congruent"""@en') in triples
    # UNKNOWN reln and self-assertions are dropped
    assert not any(p not in set(RELN_PREDICATES.values()) | {"rdfs:subClassOf", "rdfs:label"}
                   for _, p, _ in triples)

