"""Web-scale KG pipeline: extraction invariant, mention scan, linking,
connected components, staged resume."""

from __future__ import annotations

import contextlib
import re

import pandas as pd
import pytest
from conftest import GOLDEN_TTL, requires
from pyspark.sql import functions as F

from mhdb_tables2turtles_spark.web import vocab as vocab_mod
from mhdb_tables2turtles_spark.web.canonicalize import connected_components
from mhdb_tables2turtles_spark.web.extract import extract_text
from mhdb_tables2turtles_spark.web.mentions import extract_pages, scan_mentions
from mhdb_tables2turtles_spark.web.pipeline import KGPipeline, build_corpus
from mhdb_tables2turtles_spark.web.trie import AhoCorasick


# ---------- pure-Python kernels ----------

def test_extract_text_spec():
    html = (
        b"<html><head><style>x{}</style><script>var a=1;</script></head>"
        b"<body><!-- c --><h1>A &amp; B</h1><p>hello\n  world</p></body></html>"
    )
    assert extract_text(html) == "A & B hello world"
    assert extract_text(None) is None
    # deterministic on invalid utf-8
    assert extract_text(b"<p>a\xffb</p>") == "a�b"


def test_aho_corasick_word_boundaries():
    auto = AhoCorasick(["chill", "chills", "music", "go/no-go task"])
    text = "music gives chills; the chilly go/no-go task uses music"
    found = {(text[s:e], i) for s, e, i in auto.find_words(text)}
    surfaces = {f[0] for f in found}
    assert "chills" in surfaces and "music" in surfaces
    assert "chill" not in surfaces  # inside 'chills'/'chilly' is not a word hit
    assert "go/no-go task" in surfaces


def test_token_index_matcher_equals_aho_corasick():
    """The scan's hot path (TokenIndexMatcher) must emit the exact match
    SET the Aho-Corasick reference emits — nested phrases, overlapping
    occurrences, shared first tokens, separators inside patterns, and
    patterns starting with a non-word char (fallback path) included."""
    import random

    from mhdb_tables2turtles_spark.web.trie import TokenIndexMatcher

    vocab = [
        "chill", "chills", "music", "go/no-go task", "anxiety",
        "anxiety disorder", "generalized anxiety disorder", "panic",
        "panic attack", "panicattack", "st. john's wort", "adhd",
        "x", "x y", "x y z", "obsessive-compulsive", "self_report",
        "2-back", "n-back", "-leading", "'quoted",
    ]
    words = [
        "chill", "chills", "music", "go", "no", "task", "anxiety",
        "disorder", "generalized", "panic", "attack", "panicattack",
        "st", "john", "wort", "adhd", "x", "y", "z", "lorem",
        "self_report", "2", "n", "back", "obsessive", "compulsive",
        "leading", "quoted",
    ] + [f"w{i}" for i in range(40)]
    seps = [" ", "  ", "-", "/", ". ", "'", ", ", "\n"]
    auto = AhoCorasick(vocab)
    matcher = TokenIndexMatcher(vocab)
    rng = random.Random(7)
    for _ in range(200):
        text = "".join(
            rng.choice(words) + rng.choice(seps) for _ in range(400)
        ).lower()
        assert set(auto.find_words(text)) == set(matcher.find_words(text))
    # edge cases: text boundaries, empty text
    assert set(matcher.find_words("")) == set()
    assert set(auto.find_words("x y z")) == set(matcher.find_words("x y z"))


def test_matcher_for_evicts_least_recently_used():
    """The per-worker matcher memo keeps recently used pattern tuples: a
    hit refreshes recency, so the next insert evicts the coldest entry."""
    from mhdb_tables2turtles_spark.web.trie import matcher_for

    a, b, c, d, e = (("lru", str(i)) for i in range(5))
    first = matcher_for(a)
    for patterns in (b, c, d, a, e):
        matcher_for(patterns)
    assert matcher_for(a) is first


@requires(GOLDEN_TTL)
def test_vocabulary_from_golden():
    vf = vocab_mod.vocabulary_frame(GOLDEN_TTL)
    assert len(vf) > 300
    assert set(vf.columns) == {"surface", "entity_iri", "entity_type", "is_alias"}
    assert (vf["surface"] == vf["surface"].str.lower()).all()
    # IRIs are minted from labels in this ontology, so a shared surface
    # collapses to one IRI (ambiguous linking is exercised synthetically
    # in test_linking_prefers_matching_profile)
    assert vf.groupby("surface")["entity_iri"].nunique().max() >= 1


# ---------- Spark stages ----------

@pytest.fixture(scope="module")
def corpus(spark, onto_ttl):
    return build_corpus(
        spark, n_pages=60, seed=7, partitions=4, ttl_path=onto_ttl
    ).cache()


def test_pages_deterministic_and_invariant(spark, corpus, onto_ttl):
    again = build_corpus(
        spark, n_pages=60, seed=7, partitions=2, ttl_path=onto_ttl
    )
    a = {r.url: (r.text, bytes(r.html)) for r in corpus.collect()}
    b = {r.url: (r.text, bytes(r.html)) for r in again.collect()}
    assert a == b  # parallelism-independent generation
    # per-row invariant: stage-1 extraction reproduces the committed text
    assert all(text == extract_text(html) for text, html in a.values())


def test_scan_mentions_matches_python(spark, corpus):
    surfaces = ("music", "chills", "study")
    mentions = scan_mentions(corpus, surfaces)
    assert mentions.columns == ["url", "surface"]
    got = mentions.groupBy("surface").count().collect()
    got = {r.surface: r["count"] for r in got}
    auto = AhoCorasick(list(surfaces))
    want: dict[str, int] = {}
    for r in corpus.select("text").collect():
        for s, e, i in auto.find_words(r.text.lower()):
            want[surfaces[i]] = want.get(surfaces[i], 0) + 1
    assert got == want


def test_extract_pages_matches_pure_kernels(spark, corpus, onto_ttl):
    """The fused per-page pass equals its three pure parts per url:
    extract_text, format_iri and scan_mentions' surfaces (null html
    included)."""
    from mhdb_tables2turtles_spark.functions.strings import format_iri

    surfaces = tuple(
        sorted(set(vocab_mod.vocabulary_frame(onto_ttl)["surface"]))
    )
    null_page = spark.createDataFrame(
        [("http://null.example/p", None, None, None, "en")], corpus.schema
    )
    pages = corpus.unionByName(null_page)
    htmls = {
        r.url: None if r.html is None else bytes(r.html)
        for r in pages.select("url", "html").collect()
    }
    texts = spark.createDataFrame(
        [(u, extract_text(h)) for u, h in htmls.items()],
        "url string, text string",
    )
    scanned: dict[str, list] = {}
    for r in scan_mentions(texts, surfaces).collect():
        scanned.setdefault(r.url, []).append(r.surface)

    fused = {r.url: r for r in extract_pages(pages, surfaces).collect()}
    assert set(fused) == set(htmls)
    for url, r in fused.items():
        assert r.text == extract_text(htmls[url])
        assert r.subject == format_iri(url)
        assert sorted(r.surfaces) == sorted(scanned.get(url, []))
    assert fused["http://null.example/p"].text is None
    assert fused["http://null.example/p"].surfaces == []
    assert sum(map(len, scanned.values())) > 0


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d"), ("f", "e"), ("x", "y")],
        ["src", "dst"],
    )
    comps = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    assert comps["a"] == comps["b"] == comps["c"] == "a"
    assert comps["d"] == comps["e"] == comps["f"] == "d"
    assert comps["x"] == comps["y"] == "x"


def _chain_edges(spark):
    return spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(40)], ["src", "dst"]
    )


def test_connected_components_long_chain(spark):
    # pointer compression: a 40-node path converges within the cap
    comps = connected_components(_chain_edges(spark))
    assert comps.select("component").distinct().count() == 1


def test_connected_components_raises_at_round_cap(spark, monkeypatch):
    # labels still changing when the cap is reached: raise, never return
    # a truncated labeling
    from mhdb_tables2turtles_spark.web import canonicalize

    monkeypatch.setattr(canonicalize, "_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_chain_edges(spark))


def test_pipeline_end_to_end_and_resume(spark, corpus, tmp_path, onto_ttl):
    wd = str(tmp_path / "kg")
    pipe = KGPipeline(spark, wd, ttl_path=onto_ttl)
    out = pipe.run(corpus)
    triples = out["canonical"]
    assert triples.columns == ["subject", "predicate", "object"]
    n = triples.count()
    assert n > 0
    # every page minted a subject + type + URL triple
    n_pages_linked = out["linked"].select("url").distinct().count()
    assert (
        triples.filter(F.col("predicate") == "a").count() == n_pages_linked
    )
    counters = out["counters"]
    assert set(counters) == {"extract", "triples", "canonical"}
    assert counters["extract"] == 60
    # extract commits only what linking and the triple pass read
    assert out["extract"].columns == ["url", "text", "subject", "surfaces"]

    # resume: a fresh pipeline over the same workdir recomputes nothing
    pipe2 = KGPipeline(spark, wd, ttl_path=onto_ttl)
    out2 = pipe2.run(corpus)
    assert all(step.startswith("resume:") for step in pipe2.staged.log)
    assert out2["canonical"].count() == n

    # lineage manifest shape
    man = pipe2.staged.manifest("triples")
    assert man["rows"] == counters["triples"]
    assert man["n_partitions"] >= 1
    assert sum(man["partitions"].values()) == man["rows"]

    # serving copy: export_store publishes the canonical graph in the
    # predicate-partitioned layout, value-identical to the staged table
    store_path = str(tmp_path / "store")
    pipe2.export_store(store_path)
    from mhdb_tables2turtles_spark.web.store import read_triple_store

    back = read_triple_store(spark, store_path)
    assert back.count() == n
    assert back.exceptAll(triples).count() == 0


def test_kill_mid_pipeline_resumes_from_last_commit(
    spark, corpus, tmp_path, onto_ttl
):
    """SURVEY §5.3-5: die after the extract commit, restart, identical
    final result with no recomputation of committed stages."""
    wd = str(tmp_path / "kgkill")
    # simulate a job killed after the first stage commit
    dead = KGPipeline(spark, wd, ttl_path=onto_ttl)
    dead.staged.stage(
        "extract", lambda: extract_pages(corpus, dead.surfaces)
    )
    # process "dies" here; a fresh run picks up after the last commit
    pipe = KGPipeline(spark, wd, ttl_path=onto_ttl)
    out = pipe.run(corpus)
    assert pipe.staged.log[:1] == ["resume:extract"]
    assert [s for s in pipe.staged.log if s.startswith("compute:")] == [
        "compute:triples",
        "compute:canonical",
    ]
    # identical to a from-scratch run
    fresh = KGPipeline(
        spark, str(tmp_path / "kgfresh"), ttl_path=onto_ttl
    ).run(corpus)
    a = {(r.subject, r.predicate, r.object) for r in out["canonical"].collect()}
    b = {(r.subject, r.predicate, r.object) for r in fresh["canonical"].collect()}
    assert a == b


def test_kill_after_triples_computes_only_canonical(
    spark, corpus, tmp_path, onto_ttl
):
    """Die after the triples commit, with a half-written canonical
    directory left behind: the restart computes canonical alone."""
    import os
    import shutil

    wd = str(tmp_path / "kgkill3")
    full = KGPipeline(spark, wd, ttl_path=onto_ttl).run(corpus)
    want = sorted(full["canonical"].collect())
    canonical_dir = os.path.join(wd, "canonical")
    shutil.rmtree(canonical_dir)
    os.makedirs(canonical_dir)
    open(os.path.join(canonical_dir, "part-00000.parquet"), "w").close()

    pipe = KGPipeline(spark, wd, ttl_path=onto_ttl)
    out = pipe.run(corpus)
    assert [s for s in pipe.staged.log if s.startswith("compute:")] == [
        "compute:canonical"
    ]
    assert sorted(out["canonical"].collect()) == want


def test_no_merge_canonical_is_an_alias(spark, corpus, tmp_path, onto_ttl):
    """With no owl:sameAs edge, canonical/ holds only its manifest, and
    every reader of canonical sees the triples table."""
    import os

    from mhdb_tables2turtles_spark.web.materialize import MANIFEST
    from mhdb_tables2turtles_spark.web.store import read_triple_store

    wd = str(tmp_path / "kg_alias")
    pipe = KGPipeline(spark, wd, ttl_path=onto_ttl)
    out = pipe.run(corpus)
    # each committed table once: no mentions copy of extract's surfaces
    assert sorted(os.listdir(wd)) == [
        "canonical", "extract", "triples",
    ]
    assert os.listdir(os.path.join(wd, "canonical")) == [MANIFEST]
    # the decision came from the triples write job's own count, and the
    # alias manifest carries every key a computed stage manifest has
    assert pipe.staged.manifest("triples")["equivalence_rows"] == 0
    alias_man = pipe.staged.manifest("canonical")
    assert alias_man["data"] == "triples"
    assert set(pipe.staged.manifest("extract")) <= set(alias_man)
    assert alias_man["elapsed_sec"] is not None
    triples = pipe.staged.read("triples")
    want = sorted(triples.collect())
    assert sorted(out["canonical"].collect()) == want
    assert sorted(pipe.canonical_asof(None).collect()) == want
    assert pipe.staged.counters()["canonical"] == len(want)
    store_path = str(tmp_path / "store_alias")
    pipe.export_store(store_path)
    back = read_triple_store(spark, store_path).select(*triples.columns)
    assert sorted(back.collect()) == want


@contextlib.contextmanager
def _spark_jobs(spark, group):
    """Collect the ids of the Spark jobs the block submits, run under job
    group ``group``; the caller's group is restored afterwards."""
    sc = spark.sparkContext
    keys = (
        "spark.jobGroup.id",
        "spark.job.description",
        "spark.job.interruptOnCancel",
    )
    saved = {k: sc.getLocalProperty(k) for k in keys}
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_no_merge_run_job_budget(spark, corpus, tmp_path, onto_ttl):
    """A no-merge run with Turtle output commits extract and triples,
    aliases canonical, and submits a pinned number of Spark jobs:
    linking runs inside the triples write, the ambiguity decision and
    the reads of committed stages submit none."""
    pipe = KGPipeline(spark, str(tmp_path / "kg_jobs"), ttl_path=onto_ttl)
    with _spark_jobs(spark, "kg-run-job-budget") as jobs:
        pipe.run(corpus, write_turtle=True)
    assert [s for s in pipe.staged.log if s.startswith("compute:")] == [
        "compute:extract", "compute:triples", "compute:canonical",
    ]
    # the extract, triples and Turtle-shard writes (AQE runs each
    # shuffle as a job of its own) and the used-prefix collect; 18 while
    # linked was a committed stage and every read inferred its schema
    assert len(jobs) == 9, sorted(jobs)


def _staged_sample(spark, workdir):
    from mhdb_tables2turtles_spark.web.materialize import StagedPipeline

    staged = StagedPipeline(spark, workdir)
    staged.stage(
        "sample",
        lambda: spark.range(0, 40, numPartitions=3).select(
            "id", F.format_string("row %d", "id").alias("label")
        ),
    )
    return staged


def test_read_of_committed_stage_submits_no_job(spark, tmp_path):
    """The manifest carries the written schema, so a read infers none."""
    staged = _staged_sample(spark, str(tmp_path / "st"))
    with _spark_jobs(spark, "staged-read") as jobs:
        df = staged.read("sample")
    assert jobs == []
    assert df.columns == ["id", "label"]
    assert sorted(r.id for r in df.collect()) == list(range(40))


def test_manifest_without_schema_is_read_by_inference(spark, tmp_path):
    import json
    import os

    from mhdb_tables2turtles_spark.web.materialize import (
        MANIFEST,
        StagedPipeline,
    )

    wd = str(tmp_path / "st_old")
    want = sorted(_staged_sample(spark, wd).read("sample").collect())
    path = os.path.join(wd, "sample", MANIFEST)
    with open(path) as f:
        manifest = json.load(f)
    del manifest["schema"]
    with open(path, "w") as f:
        json.dump(manifest, f)
    df = StagedPipeline(spark, wd).read("sample")
    assert df.columns == ["id", "label"]
    assert sorted(df.collect()) == want


def test_canonicalization_merges_sameas(spark, corpus, tmp_path, onto_ttl):
    pipe = KGPipeline(spark, str(tmp_path / "kg2"), ttl_path=onto_ttl)
    # inject synthetic duplicates: two ontology IRIs declared equivalent
    some = pipe.vocab.limit(2).collect()
    a, b = some[0].entity_iri, some[1].entity_iri
    extra = spark.createDataFrame([(a, b)], ["src", "dst"])
    out = pipe.run(corpus, extra_equiv_edges=extra)
    objs = {
        r.object
        for r in out["canonical"].filter(F.col("predicate") == ":mentions").collect()
    }
    assert not (a in objs and b in objs)  # merged to one canonical IRI
    assert pipe.staged.manifest("triples")["equivalence_rows"] == 1
    assert "data" not in pipe.staged.manifest("canonical")  # own parquet


def test_pipeline_with_ontology_and_turtle(spark, corpus, tmp_path, onto_ttl):
    """With include_ontology the canonical triple set contains every
    ontology triple (recall 1.0: the page triples never rewrite ontology
    IRIs); ttl shards materialize."""
    import os

    from mhdb_tables2turtles_spark.sources.golden import load_golden_triples

    wd = str(tmp_path / "kg3")
    pipe = KGPipeline(spark, wd, ttl_path=onto_ttl)
    out = pipe.run(corpus, include_ontology=True, write_turtle=True)
    ours = {
        (r.subject, r.predicate, r.object) for r in out["canonical"].collect()
    }
    golden = load_golden_triples(onto_ttl)
    assert golden <= ours  # recall 1.0 vs the ontology triples
    assert os.path.exists(os.path.join(wd, "ttl", "_SUCCESS"))
    assert sorted(os.listdir(wd)) == [
        "canonical", "extract", "triples", "ttl",
    ]
    # shard contents parse back as subject blocks
    import glob

    text = "".join(
        open(p).read() for p in sorted(glob.glob(os.path.join(wd, "ttl", "part-*")))
    )
    assert " ;\n\t" in text and text.count(" .\n") >= out["counters"]["extract"]


def test_linking_prefers_matching_profile(spark):
    # two entities share surface 'sound'; page text overlaps entity A's profile
    vocab = spark.createDataFrame(
        pd.DataFrame(
            {
                "surface": ["sound", "sound"],
                "entity_iri": [":SoundMeasure", ":SoundStimulus"],
                "entity_type": [":Measure", ":StimulusCategory"],
                "is_alias": [False, False],
            }
        )
    )
    profiles = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_iri": [":SoundMeasure", ":SoundStimulus"],
                "profile_text": [
                    "sound measured decibel amplitude recording",
                    "sound stimulus auditory excerpt played",
                ],
            }
        )
    )
    pages = spark.createDataFrame(
        [
            ("u1", "the sound amplitude was measured in decibel units"),
            ("u2", "an auditory excerpt stimulus with sound was played"),
        ],
        ["url", "text"],
    )
    from mhdb_tables2turtles_spark.web.linking import link_mentions
    from mhdb_tables2turtles_spark.web.mentions import scan_mentions as scan

    def link(batch):
        return {
            r.url: r.entity_iri
            for r in link_mentions(
                scan(batch, ("sound",)), vocab, batch, profiles
            ).collect()
        }

    linked = link(pages)
    assert linked == {"u1": ":SoundMeasure", "u2": ":SoundStimulus"}
    # the idf comes from the profiles, so a page links the same alone as
    # in any corpus
    alone = {}
    for url in ("u1", "u2"):
        alone.update(link(pages.filter(F.col("url") == url)))
    assert alone == linked


def test_page_entity_triples_runs_no_python(spark):
    """One grouped JVM pass: the page IRI comes from the extract stage's
    ``subject`` column, so the executed plan evaluates no Python."""
    from mhdb_tables2turtles_spark.functions.strings import format_iri
    from mhdb_tables2turtles_spark.web.mentions import page_entity_triples

    p1, p2 = "http://a.example/p1", "http://b.example/p2"
    linked = spark.createDataFrame(
        [(p1, ":Chills"), (p1, ":Music"), (p2, ":Chills"), (p1, ":Chills")],
        ["url", "entity_iri"],
    )
    # p1 appears twice (a recapture): its triples are still emitted once
    pages = spark.createDataFrame(
        [
            (u, format_iri(u))
            for u in (p1, p2, "http://c.example/unlinked", p1)
        ],
        ["url", "subject"],
    )
    triples = page_entity_triples(linked, pages)
    s1, s2 = format_iri(p1), format_iri(p2)
    assert sorted(triples.collect()) == sorted([
        (s1, "a", ":WebPage"),
        (s1, ":hasURL", f'"{p1}"^^xsd:anyURI'),
        (s1, ":mentions", ":Chills"),
        (s1, ":mentions", ":Music"),
        (s2, "a", ":WebPage"),
        (s2, ":hasURL", f'"{p2}"^^xsd:anyURI'),
        (s2, ":mentions", ":Chills"),
    ])  # 2 decls + 2 urls + 3 mentions; the unlinked page emits nothing
    plan = triples._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# ------------------------------------------------------------ link graph


def test_extract_links_quote_variants_and_entities():
    from mhdb_tables2turtles_spark.web.extract import extract_links

    html = (
        b'<p><a href="https://a.example/x?u=1&amp;v=2">x</a>'
        b"<a href='/rel'>r</a>"
        b"<A HREF=bare>b</A>"
        b'<a class="z" href="">empty</a>'
        b"<a name=anchor-only>no href</a></p>"
    )
    assert extract_links(html) == [
        "https://a.example/x?u=1&v=2",
        "/rel",
        "bare",
    ]
    assert extract_links(None) is None
    assert extract_links(b"<p>no anchors</p>") == []


def test_page_links_resolution_and_scheme_filter(spark):
    from mhdb_tables2turtles_spark.web.linkgraph import page_links

    pages = spark.createDataFrame(
        [
            (
                "https://h1.example/a/b",
                b'<a href="/root">r</a><a href="sib">s</a>'
                b'<a href="https://h2.example/z">abs</a>'
                b'<a href="mailto:x@y">m</a><a href="javascript:void(0)">j</a>',
            ),
            ("https://h3.example/", None),
        ],
        "url string, html binary",
    )
    got = {(r.url, r.link) for r in page_links(pages).collect()}
    assert got == {
        ("https://h1.example/a/b", "https://h1.example/root"),
        ("https://h1.example/a/b", "https://h1.example/a/sib"),
        ("https://h1.example/a/b", "https://h2.example/z"),
    }


def test_host_edges_drops_self_loops_and_counts(spark):
    from mhdb_tables2turtles_spark.web.linkgraph import host_edges

    mk = lambda *links: ("".join(
        f'<a href="{l}">l</a>' for l in links
    )).encode()
    pages = spark.createDataFrame(
        [
            ("https://a.example/1", mk("https://b.example/x",
                                       "https://b.example/y",
                                       "https://a.example/self")),
            ("https://a.example/2", mk("https://c.example/")),
        ],
        "url string, html binary",
    )
    got = {(r.src_host, r.dst_host): r.n_links for r in host_edges(pages).collect()}
    assert got == {("a.example", "b.example"): 2, ("a.example", "c.example"): 1}


def test_synth_links_deterministic_across_parallelism(spark):
    from mhdb_tables2turtles_spark.web.linkgraph import host_edges
    from mhdb_tables2turtles_spark.web.pages import synthesize_pages

    def run(parts):
        pages = synthesize_pages(
            spark, 300, seed=9, partitions=parts, with_links=True
        )
        return {
            (r.src_host, r.dst_host): r.n_links
            for r in host_edges(pages).collect()
        }

    e2, e8 = run(2), run(8)
    assert e2 == e8 and len(e2) > 10


def test_host_pagerank_directed_hub_skew(spark):
    from mhdb_tables2turtles_spark.web.linkgraph import host_pagerank
    from mhdb_tables2turtles_spark.web.pages import synthesize_pages, _N_HOSTS

    pages = synthesize_pages(spark, 300, seed=9, with_links=True)
    pr = {r.node: r.pr for r in host_pagerank(pages, iterations=4).collect()}
    assert len(pr) == _N_HOSTS
    # min-of-two target sampling makes low-id hosts authority hubs
    low = sum(pr[h] for h in pr if int(h[4:6]) < 5)
    high = sum(pr[h] for h in pr if int(h[4:6]) >= 32)
    assert low > high


def test_pagerank_directed_no_inlink_node_keeps_base(spark):
    from mhdb_tables2turtles_spark.web.graphrank import (
        SCALE,
        pagerank_directed,
    )

    edges = spark.createDataFrame(
        [("s", "t"), ("u", "t")], ["src", "dst"]
    )
    pr = {r.node: r.pr for r in pagerank_directed(edges, iterations=3).collect()}
    base = (15 * SCALE) // 100
    # sources have no inlinks -> exactly base; sink accumulates both
    assert pr["s"] == base and pr["u"] == base
    assert pr["t"] > base and set(pr) == {"s", "t", "u"}


# --------------------------------------------------- incremental update


def _shared_label_ontology(onto_ttl, path):
    """``onto_ttl`` with entity 2k+1 relabelled to entity 2k's label for
    k < 10: ten surfaces name two entities each, so linking them runs
    the TF-IDF scorer."""
    label = re.compile(r'rdfs:label """(.*?)"""@en')
    with open(onto_ttl, encoding="utf-8") as f:
        text = f.read()
    labels = label.findall(text)
    labels[1:20:2] = labels[0:20:2]
    it = iter(labels)
    path.write_text(
        label.sub(lambda m: f'rdfs:label """{next(it)}"""@en', text),
        encoding="utf-8",
    )
    return str(path)


def _assert_update_equals_full_rebuild(spark, tmp_path, ttl_path):
    """run(A) + update(B) must equal run(A ∪ B) triple-for-triple,
    including the incremental canonicalization (disjoint equivalence
    batches E1 at base, E2 at update, vs E1 ∪ E2 from scratch).
    Returns the full run's outputs."""
    full_corpus = build_corpus(
        spark, n_pages=120, seed=7, partitions=4, ttl_path=ttl_path
    )
    half = F.col("url").substr(-1, 1).isin(*"01234")
    pages_a, pages_b = full_corpus.filter(half), full_corpus.filter(~half)

    pipe = KGPipeline(spark, str(tmp_path / "kg_inc"), ttl_path=ttl_path)
    iris = [r.entity_iri for r in pipe.vocab.limit(3).collect()]
    e1 = spark.createDataFrame([(iris[0], iris[1])], ["src", "dst"])
    e2 = spark.createDataFrame([(iris[1], iris[2])], ["src", "dst"])

    pipe.run(pages_a, extra_equiv_edges=e1, include_ontology=True)
    out = pipe.update(pages_b, "crawl_b", extra_equiv_edges=e2)

    fresh = KGPipeline(
        spark, str(tmp_path / "kg_full"), ttl_path=ttl_path
    ).run(
        full_corpus,
        extra_equiv_edges=e1.unionAll(e2),
        include_ontology=True,
    )
    got = {
        (r.subject, r.predicate, r.object) for r in out["canonical"].collect()
    }
    want = {
        (r.subject, r.predicate, r.object)
        for r in fresh["canonical"].collect()
    }
    assert got == want and len(got) > 0
    return fresh


def test_update_equals_full_rebuild(spark, tmp_path, onto_ttl):
    _assert_update_equals_full_rebuild(spark, tmp_path, onto_ttl)


def test_update_equals_full_rebuild_shared_labels(spark, tmp_path, onto_ttl):
    """The same equality where surfaces are shared: an epoch's pages link
    exactly as they do in the full run."""
    ttl = _shared_label_ontology(onto_ttl, tmp_path / "shared.ttl")
    fresh = _assert_update_equals_full_rebuild(spark, tmp_path, ttl)
    assert fresh["linked"].filter("is_ambiguous").count() > 0


def test_update_resumes_and_is_idempotent(spark, tmp_path, onto_ttl):
    wd = str(tmp_path / "kg_inc2")
    corpus = build_corpus(
        spark, n_pages=30, seed=3, partitions=2, ttl_path=onto_ttl
    )
    a = corpus.limit(20)
    b = corpus.subtract(a)

    pipe = KGPipeline(spark, wd, ttl_path=onto_ttl)
    pipe.run(a, include_ontology=True)
    first = pipe.update(b, "b1")
    n1 = first["canonical"].count()

    # re-applying the same batch: every stage resumes, nothing recomputes,
    # identical output (the incremental_stage lineage marks b1 done)
    pipe2 = KGPipeline(spark, wd, ttl_path=onto_ttl)
    again = pipe2.update(b, "b1")
    logs = pipe2.staged.log
    assert not any(s.startswith("compute:") for s in logs), logs
    assert again["canonical"].count() == n1
    assert pipe2._epochs() == ["b1"]


def test_update_commits_labels_not_graph_copies(spark, tmp_path, onto_ttl):
    """An epoch writes its triples once, into its triples_epochs
    partition, and commits its component labels; it leaves no per-epoch
    stage graph and no canonical snapshot behind."""
    import os

    corpus = build_corpus(
        spark, n_pages=12, seed=9, partitions=1, ttl_path=onto_ttl
    )
    wd = str(tmp_path / "kg_layout")
    pipe = KGPipeline(spark, wd, ttl_path=onto_ttl)
    pipe.run(corpus.limit(8))
    out = pipe.update(corpus.subtract(corpus.limit(8)), "e1")
    assert sorted(os.listdir(wd)) == [
        "_EPOCHS.json", "canonical", "components_base", "components_e1",
        "extract", "triples", "triples_epochs",
    ]
    assert pipe.staged.manifest("triples_epochs")["done_partitions"] == ["e1"]
    assert out["triples"].count() == pipe.staged.manifest(
        "triples_epochs"
    )["rows"]


def test_update_requires_base_run(spark, tmp_path, onto_ttl):
    import pytest as _pytest

    pipe = KGPipeline(spark, str(tmp_path / "kg_inc3"), ttl_path=onto_ttl)
    pages = build_corpus(
        spark, n_pages=5, seed=1, partitions=1, ttl_path=onto_ttl
    )
    with _pytest.raises(RuntimeError, match="run\\(\\) the base crawl"):
        pipe.update(pages, "x")


def test_canonical_asof_time_travel(spark, tmp_path, onto_ttl):
    corpus = build_corpus(
        spark, n_pages=24, seed=5, partitions=2, ttl_path=onto_ttl
    )
    third = F.col("url").substr(-1, 1)
    a = corpus.filter(third.isin(*"0123"))
    b = corpus.filter(third.isin(*"456"))
    c = corpus.filter(third.isin(*"789"))

    pipe = KGPipeline(spark, str(tmp_path / "kg_tt"), ttl_path=onto_ttl)
    base = pipe.run(a)["canonical"].count()
    n1 = pipe.update(b, "e1")["canonical"].count()
    n2 = pipe.update(c, "e2")["canonical"].count()

    assert pipe.canonical_asof().count() == base
    assert pipe.canonical_asof("e1").count() == n1
    assert pipe.canonical_asof("e2").count() == n2
    assert base < n1 < n2
    import pytest as _pytest

    with _pytest.raises(KeyError):
        pipe.canonical_asof("nope")
